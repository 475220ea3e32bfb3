#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload log_query --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark client once per checkout (sbt, offline),
generates the workload's inputs from the seed, runs one JVM with a
fresh temp, Spark-local and checkpoint directory, checks every op's
output with DuckDB, and prints a report followed by one JSON line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = list(gen.GENERATORS)
COMPANIONS = {"log_query": [("log_follow", "follow")],
              "table_mutation": [("corpus_dedup", "corpus")]}
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
BUILD = HERE / ".build"
RUNS = HERE / ".runs"

# Spark 4 on JDK 17 outside spark-submit (same list as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Metric names and units: the benchmark's declaration is the one list.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# report-only end-to-end figures, by unit
UNITS = dict(END_TO_END, op_tail_ms="ms", rows_per_s="rows/s",
             commit_p50_ms="ms", commit_tail_ms="ms", write_amp="ratio",
             space_amp="ratio", error_rate="ratio")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: graft's and the benchmark client's."""
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file()
                        and "target" not in p.parts)
    return files


def build():
    """sbt build of graft + client, skipped when the sources are unchanged."""
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp, cp = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp.exists() and cp.exists() and stamp.read_text() == h.hexdigest():
        return cp.read_text().split()
    BUILD.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "exportClasspath"], cwd=HERE, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not cp.exists():
        sys.exit(f"build failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return cp.read_text().split()


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home, "bin", "java")) if home else "java"


def tail_ms(xs):
    """The highest percentile of `xs` with at least 10 samples beyond it."""
    n = len(xs)
    for p in (99, 95, 90, 80, 75):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None, None


def end_to_end(res, failures):
    ops = [o for o in res["ops"] if o["ok"]]
    # an op is a query, a pipeline job, a read or an append-to-visible;
    # snapshot commits have their own figures
    ms = [o["ms"] for o in ops if not o["commit"]]
    wall = res["wall_s"]
    m = {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(ms) if ms else None,
        "ops_per_s": len(ops) / wall,
        "rows_per_s": sum(o["rows"] for o in ops) / wall,
        "rss_peak_mb": res["rss_peak_mb"],
        "error_rate": (len(res["failed_ops"]) + len(failures)) / res["attempted"],
    }
    notes = {"op_p50_ms": f"n={len(ms)}, commits excluded"}
    p, v = tail_ms(ms)
    if p is not None:
        m["op_tail_ms"] = v
        notes["op_tail_ms"] = f"p{p}, n={len(ms)}"
    commits = [o["ms"] for o in ops if o["commit"]]
    if commits:
        m["commit_p50_ms"] = statistics.median(commits)
        notes["commit_p50_ms"] = f"n={len(commits)}"
        p, v = tail_ms(commits)
        if p is not None:
            m["commit_tail_ms"] = v
            notes["commit_tail_ms"] = f"p{p}, n={len(commits)}"
    extra = res.get("extra", {})
    for k in ("write_amp", "space_amp"):
        if k in extra:
            m[k] = extra[k]
            notes[k] = "base: " + extra[k + "_base"]
    return m, notes


def inputs(workload, seed, trace, out):
    """Generates the run's inputs into `out`; returns (properties, digest)."""
    props = gen.generate(workload, seed, out)
    if trace:
        # the traced run also measures the layers of a companion
        # workload (see README)
        for w, sub in COMPANIONS.get(workload, []):
            gen.generate(w, seed, out / sub)
    return props, gen.digest(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, outputs, JVM log)")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("graft's sources are not beside the benchmark")
    classpath = build()

    run = RUNS / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    try:
        inp, work, tmp = run / "input", run / "work", run / "tmp"
        for d in (work, tmp):
            d.mkdir(parents=True)
        t_gen = time.time()
        props, digest = inputs(a.workload, a.seed, a.trace, inp)
        # the same seed must give the same bytes
        again = run / "input-again"
        if inputs(a.workload, a.seed, a.trace, again)[1] != digest:
            sys.exit("two generations from one seed differ")
        shutil.rmtree(again)
        cmd = [java()] + [x for p in ADD_OPENS for x in
                          ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath), "graftbench.Main", a.workload,
            str(inp), str(work), str(a.seconds), str(a.trace)]
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        t_jvm = time.time()
        jlog = run / "jvm.log"
        try:
            with open(jlog, "w") as out:
                code = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                      timeout=RUN_LIMIT_S, cwd=run,
                                      env=env).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
        if code != 0:
            shutil.copy(jlog, BUILD / "last-failed-jvm.log")
            log(jlog.read_text()[-4000:])
            sys.exit(f"benchmark JVM failed: {code}")
        t_check = time.time()
        res = json.loads((work / "result.json").read_text())
        failures = check.run_checks(res["checks"])
        t_end = time.time()
        if gen.digest(inp) != digest:
            failures.append("inputs changed during the run")
        m, notes = end_to_end(res, failures)

        print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} "
              f"trace {a.trace} cpus {res['cpus']}")
        print(f"input digest {digest}")
        print(f"run wall: inputs {t_jvm - t_gen:.1f} s, JVM {t_check - t_jvm:.1f} s, "
              f"checks {t_end - t_check:.1f} s")
        print("input " + json.dumps(props, sort_keys=True))
        print("setup split: " + ", ".join(
            f"{k} {v:.1f} s" for k, v in res["setup_split_s"].items()))
        for k, v in m.items():
            print(f"  {k:<16} {v:>14.4f} {UNITS[k]:<7} {notes.get(k, '')}")
        kinds = {}
        for o in res["ops"]:
            kinds.setdefault(o["kind"], []).append(o["ms"])
        print("op ms by kind: " + ", ".join(
            f"{k} {statistics.median(v):.0f} (n={len(v)})"
            for k, v in sorted(kinds.items())))
        print(f"first call ms: " + ", ".join(
            f"{k} {v:.0f}" for k, v in res["cold_ms"].items()))
        print(f"checks {len(res['checks'])}, failed {len(failures)}; "
              f"ops failed {len(res['failed_ops'])}")
        for f in failures[:20]:
            print("  FAIL " + f)
        if a.trace:
            layers = res["layers"]
            base = res["untraced"]
            untraced = base["ops"] / base["wall_s"]
            overhead = m["ops_per_s"] / untraced if untraced else float("nan")
            print(f"tracing overhead: traced ops_per_s / untraced ops_per_s "
                  f"= {m['ops_per_s']:.3f} / {untraced:.3f} = {overhead:.3f}")
            for k in sorted(layers):
                print(f"  {k:<42} {json.dumps(layers[k])}")
            shutil.copy(work / "trace.jsonl", HERE / ".build" /
                        f"trace-{a.workload}.jsonl")
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            missing = [k for k in END_TO_END if m.get(k) is None]
            if missing:
                sys.exit(f"run too short for {missing}")
            metrics = {k: {"value": m[k], "unit": u}
                       for k, u in END_TO_END.items()}
        failed = len(res["failed_ops"]) + len(failures)
        print(json.dumps({"correct": failed == 0,
                          "attempted": res["attempted"], "failed": failed,
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
