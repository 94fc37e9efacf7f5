#!/usr/bin/env python3
"""Width-4 pipeline benchmark for graft.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload relational_short --seed 1 \\
        --seconds 12 --trace 0
    python3 perfbench/run.py compare RESULT_A.json RESULT_B.json

A run builds the engine and the harness from source with the Scala
compiler that ships with Spark (cached under `.bench_build/`), starts one
fresh JVM at `local[4]` with its own lake, memo scratch and
`SPARK_LOCAL_DIRS`, and drives the workload as a closed loop with one
client (see `perfbench/workloads.py`). Every pipeline of the last pass is
then checked, untimed, against its DuckDB twin with `tools/compare.py`.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs a traced
block of passes, then an untraced one, and prints the per-layer metrics,
including the tracing overhead. The last line of standard output is one
JSON object; the full record (config, per-pipeline rows, spans) is
written under `.bench_build/results/`. See perfbench/README.md.

The sf dir is `$GRAFT_BENCH_SF_DIR`, else the sf0.1 row of TESTDATA.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import layers  # noqa: E402
from workloads import WARMUP, WORKLOADS  # noqa: E402

WIDTH = 4
XMX = "3g"
JVM_TIMEOUT_S = 150
SHM = Path("/dev/shm")

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ORACLE_CACHE = BUILD / "oracle"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- locate

def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BenchError("no java on PATH")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("Spark jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sf_dir():
    env = os.environ.get("GRAFT_BENCH_SF_DIR")
    if env:
        return env
    testdata = ROOT / "TESTDATA.md"
    if not testdata.exists():
        raise BenchError("TESTDATA.md missing and GRAFT_BENCH_SF_DIR unset")
    for line in testdata.read_text().splitlines():
        m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
        if m:
            return m.group(1).rstrip("/")
    raise BenchError("no sf0.1 row in TESTDATA.md")


# ----------------------------------------------------------------- build

def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, sources):
    compiler = [str(next(jars.glob(f"{name}-2.13*.jar")))
                for name in ("scala-compiler", "scala-library", "scala-reflect")]
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(tmp.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources))
    proc = subprocess.run(
        [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
         "-cp", classpath, f"@{argfile}"],
        cwd=ROOT, capture_output=True, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError(f"scalac failed:\n{proc.stdout[-3000:]}{proc.stderr[-3000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(jars, sf):
    """Compile the engine and the harness, each cached by source hash, and
    fill the oracle cache for every workload's pipelines."""
    engine_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness_src = sorted((HERE / "scala").glob("*.scala"))
    if not engine_src:
        raise BenchError("no engine sources under src/main/scala")
    engine_key = tree_hash(engine_src)
    engine = BUILD / f"engine-{engine_key}"
    harness = BUILD / f"harness-{tree_hash(harness_src, engine_key)}"
    jar_cp = str(jars / "*")
    for out, cp, src in ((engine, jar_cp, engine_src),
                         (harness, f"{engine}{os.pathsep}{jar_cp}", harness_src)):
        if not out.is_dir():
            BUILD.mkdir(exist_ok=True)
            for stale in BUILD.glob(out.name.split("-")[0] + "-*"):
                shutil.rmtree(stale, ignore_errors=True)
            t0 = time.time()
            scalac(jars, out, cp, src)
            log(f"built {out.name} in {time.time() - t0:.1f} s")
    classpath = os.pathsep.join([str(harness), str(engine), jar_cp])
    warm_oracles(classpath, sf, harness)
    return engine_key, classpath


def warm_oracles(classpath, sf, harness):
    done = harness / f"oracles-{check.data_key(sf)[:16]}"
    if done.exists():
        return
    names = harness / "all-pipelines.txt"
    names.write_text("".join(f"{n}\n" for wl in WORKLOADS.values()
                             for g in wl["groups"] for n in g))
    sql_file = harness / "oracle_sql.json"
    subprocess.run([java_bin(), "-cp", classpath, "perfbench.Harness",
                    f"oracles_for={names}", f"out={sql_file}"],
                   check=True, capture_output=True, timeout=JVM_TIMEOUT_S)
    t0 = time.time()
    made = check.warm(sf, json.loads(sql_file.read_text()), ORACLE_CACHE)
    log(f"computed {made} DuckDB oracle results in {time.time() - t0:.1f} s")
    done.touch()


# ------------------------------------------------------------------- run

def shm_entries():
    try:
        return set(os.listdir(SHM))
    except OSError:
        return set()


def remove_stream_scratch(before):
    """The engine's stream scratch (StreamOps.scratchDir: a temp dir named
    prefix + random number) lives in the shared-memory dir when there is
    one; remove the ones this run left."""
    for entry in shm_entries() - before:
        if re.fullmatch(r"q\w*?\d{6,}", entry) and (SHM / entry).is_dir():
            shutil.rmtree(SHM / entry, ignore_errors=True)


def launch(classpath, run_dir, params, tag):
    """Start one harness JVM, wait for it, and return its result file."""
    out = run_dir / f"{tag}.json"
    scratch = run_dir / tag
    for sub in ("tmp", "local", "warehouse", "derby"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    jvm = [java_bin(), f"-Xmx{XMX}", "-Xss4m"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
            f"-Dderby.system.home={scratch / 'derby'}",
            "-cp", classpath, "perfbench.Harness"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "local"))
    params = dict(params, scratch=scratch, out=out, width=WIDTH,
                  spawn_ms=f"{time.time() * 1000:.3f}")
    args = jvm + [f"{k}={v}" for k, v in params.items()]
    with open(run_dir / f"{tag}.log", "w") as errlog:
        proc = subprocess.Popen(args, cwd=scratch, env=env, stdout=errlog,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{tag} JVM timed out after {JVM_TIMEOUT_S} s")
    if code != 0 or not out.exists():
        tail = (run_dir / f"{tag}.log").read_text()[-3000:]
        raise BenchError(f"{tag} JVM exited {code}:\n{tail}")
    return json.loads(out.read_text())


def check_outputs(sf, check_dir, names):
    """tools/compare.py's rule over the pipelines that ran (check.py)."""
    proc = subprocess.run(
        [sys.executable, "-B", str(HERE / "check.py"), sf, str(check_dir),
         str(ORACLE_CACHE)] + sorted(names),
        cwd=ROOT, capture_output=True, text=True, timeout=JVM_TIMEOUT_S)
    passed = set(re.findall(r"^PASS (\S+)", proc.stdout, re.M))
    failed = {n: "no result from tools/compare.py" for n in names - passed}
    for m in re.finditer(r"^FAIL (\S+?): (.*)$", proc.stdout, re.M):
        failed[m.group(1)] = m.group(2)[:200]
    if proc.returncode not in (0, 1):
        raise BenchError(f"tools/compare.py exited {proc.returncode}: {proc.stderr[-2000:]}")
    return failed


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return None


def git_head():
    try:
        proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        if proc.returncode == 0:
            return proc.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(xs):
    """The highest whole percentile with at least ten samples beyond it; a
    run with fewer than 20 samples falls back to the median."""
    p = max(50, math.floor(100 * (1 - 10 / len(xs))))
    return p, percentile(xs, p)


def end_to_end(setup_s, res):
    """The BENCHMARK.json end-to-end metrics, and what is only reported."""
    passes = [x for x in res["passes"] if x["block"] == "untraced"]
    lats = [r["lat_s"] for r in res["runs"] if r["block"] == "untraced"]
    p, tail = tail_percentile(lats)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(x["wall_s"] for x in passes), "s"),
        "latency_p50_s": (median(lats), "s"),
        "latency_tail_s": (tail, "s"),
        "heap_peak_mb": (max(x["heap_after_gc_mb"] for x in passes), "MB"),
    }
    # Process CPU includes the JIT's compiler threads, which still burn
    # 5-10 CPU-s per pass after two warm-up passes: across seeds it spreads
    # more than any bound the benchmark may set, so it is reported only.
    reported = {"cpu_s": sum(x["cpu_s"] for x in passes),
                "jit_s": sum(x["jit_ms"] for x in passes) / 1000,
                "tail_percentile": p, "latency_n": len(lats)}
    return metrics, reported


def bench(args):
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    if not (ROOT / "tools" / "compare.py").exists():
        raise BenchError("tools/compare.py missing: not a graft checkout")
    sf = sf_dir()
    if not Path(sf, "lineitem.parquet").exists():
        raise BenchError(f"sf dir {sf} has no lineitem.parquet")
    jars = spark_jars()
    engine_key, classpath = build(jars, sf)
    passes = max(1, round(args.seconds / wl["pass_s"]))

    run_dir = BUILD / f"run-{os.getpid()}-{int(time.time())}"
    run_dir.mkdir(parents=True)
    pipelines = run_dir / "pipelines.txt"
    pipelines.write_text("".join(" ".join(g) + "\n" for g in wl["groups"]))
    shm_before = shm_entries()
    load_before = loadavg()
    steal_before = cpu_ticks()
    try:
        t0 = time.time()
        res = launch(classpath, run_dir, dict(
            sf=sf, warmup=WARMUP, mode=wl["mode"], pipelines=pipelines,
            seed=args.seed, passes=passes, trace=args.trace), "main")
        t1 = time.time()
        ran = {r["name"] for r in res["runs"]}
        mismatched = check_outputs(sf, Path(res["check_dir"]), ran)
        log(f"measured JVM {t1 - t0:.1f} s, output check {time.time() - t1:.1f} s")
    finally:
        remove_stream_scratch(shm_before)
        load_after = loadavg()
        steal_after = cpu_ticks()
        shutil.rmtree(run_dir, ignore_errors=True)

    runs = res["runs"]
    bad = [r for r in runs if not r["ok"] or r["name"] in mismatched]
    setup = res["setup"]
    setup_s = (setup["warm_done_ms"] - setup["spawn_ms"]) / 1000
    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "width": f"local[{WIDTH}]", "xmx": XMX, "sf_dir": sf,
        "git_head": git_head(), "engine_source_hash": engine_key,
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "loadavg_before": load_before, "loadavg_after": load_after,
        # share of CPU time the hypervisor took from the virtual CPUs during
        # the run: a co-tenant signature that inflates every wall time
        "cpu_steal_frac": ((steal_after[0] - steal_before[0]) /
                           max(1, steal_after[1] - steal_before[1])
                           if steal_before and steal_after else None),
        "jvm": res["jvm"],
    }
    if args.trace:
        metrics, per_pipeline, spans = layers.per_layer(res, setup)
        extra = {"per_pipeline": per_pipeline, "spans": spans}
    else:
        metrics, extra = end_to_end(setup_s, res)
    failed_frac = len(bad) / len(runs)
    record = {
        "config": config,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "failed_frac": failed_frac,
        "failures": sorted({f"{r['name']}: {mismatched.get(r['name']) or r['err'] or r['status']}"
                            for r in bad}),
        "passes": res["passes"],
        "runs": runs, **extra,
    }
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    path = results / (f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}"
                      f"-seed{args.seed}-trace{args.trace}.json")
    path.write_text(json.dumps(record, indent=1))

    for k, m in record["metrics"].items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"{args.workload} cpu_s = {extra['cpu_s']:.6g} s "
              f"(process CPU; jit_s = {extra['jit_s']:.6g} s of it)")
        print(f"{args.workload} latency_tail_s is p{extra['tail_percentile']:g} "
              f"of n={extra['latency_n']}")
    print(f"{args.workload} failed_frac = {failed_frac:.6g} "
          f"({len(bad)}/{len(runs)}; passes={len(res['passes'])})")
    for f in record["failures"]:
        print(f"{args.workload} FAILED {f}")
    print(f"{args.workload} result file: {path.relative_to(ROOT)}")
    print(json.dumps({
        "correct": not bad, "attempted": len(runs), "failed": len(bad),
        "metrics": record["metrics"]}))


# --------------------------------------------------------------- compare

def compare(a_path, b_path):
    a, b = (json.loads(Path(p).read_text()) for p in (a_path, b_path))
    for key in ("width", "nproc"):
        if a["config"][key] != b["config"][key]:
            raise BenchError(f"refusing to compare: {key} differs "
                             f"({a['config'][key]} vs {b['config'][key]})")
    for key in ("workload", "trace"):
        if a["config"][key] != b["config"][key]:
            raise BenchError(f"refusing to compare: {key} differs")
    print(f"{'metric':32} {'A':>14} {'B':>14} {'B/A':>8}")
    for k, ma in a["metrics"].items():
        mb = b["metrics"].get(k)
        if mb is None:
            continue
        ratio = mb["value"] / ma["value"] if ma["value"] else float("nan")
        print(f"{k:32} {ma['value']:14.6g} {mb['value']:14.6g} {ratio:8.3f} {ma['unit']}")


def main(argv):
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            raise BenchError("usage: run.py compare RESULT_A RESULT_B")
        return compare(argv[1], argv[2])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    bench(ap.parse_args(argv))


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
