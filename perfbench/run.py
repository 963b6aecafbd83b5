#!/usr/bin/env python3
"""Benchmark for graft's lakehouse workloads. See perfbench/README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark and
the library from source with sbt (perfbench/build.sbt) into the
checkout; later runs reuse that build while the sources are unchanged.
Each run makes its inputs from the seed in a fresh directory under
`.bench_run/`, runs one JVM (perfbench.Main) over them, checks every
result, deletes the directory, and prints one JSON line: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
metrics. Spans of a traced run are written to `.bench_out/`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
sys.path.insert(0, HERE)

import board_data  # noqa: E402
from feed import Feed  # noqa: E402

RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
CORES = os.cpu_count() or 4
SETUPS = 2
STREAMING = "streaming.StreamGateQueries"

# Board workloads: the query pool, how many cost strata the sample has,
# whether the pool's streaming gates form one more stratum, and the
# nominal length of one pass over the sample. Medallion: NEOs per feed day
# and the nominal length of one day. A run does --seconds ÷ nominal
# length passes or days (at least two), so every run of a workload does
# the same work however fast the code under test is.
WORKLOADS = {
    "board_light": {"kind": "board", "pool": "light", "sample": 5,
                    "streaming": True, "batch_s": 4.0},
    "board_heavy": {"kind": "board", "pool": "heavy", "sample": 2,
                    "streaming": False, "batch_s": 6.0},
    "medallion_daily": {"kind": "medallion", "per_day": 150, "batch_s": 2.0},
    "medallion_bulk": {"kind": "medallion", "per_day": 40000,
                       "batch_s": 8.0},
}
WARM_NEOS = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_stamp():
    """Hash of every input of the build: the library and the benchmark."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library and benchmark once per source state; return the
    JVM classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def board_tables():
    """The board tables, generated once per generator version."""
    with open(os.path.join(HERE, "board_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(BUILD, f"board-{tag}")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        board_data.generate(out)
        open(os.path.join(out, "done"), "w").close()
    return out


def query_pools():
    """The frozen light / heavy query lists, checked for overlap."""
    q = load_json(os.path.join(HERE, "queries.json"))
    light = [e["name"] for e in q["light"]]
    heavy = [e["name"] for e in q["heavy"]]
    for name, pool in (("light", light), ("heavy", heavy)):
        if len(set(pool)) != len(pool):
            fail(f"queries.json: duplicate names in the {name} list")
    both = set(light) & set(heavy)
    if both:
        fail(f"queries.json: in both lists: {sorted(both)}")
    return q


def sample(pool, w, seed):
    """The board sample: the pool ranked by reference time is cut into
    `sample` strata of equal size and the query at the centre of each is
    taken, plus the middle streaming gate when the pool's streaming gates
    form their own stratum. Membership is fixed so that every seed runs
    the same cost profile; the seed orders the sample."""
    def centres(entries, n):
        ranked = sorted(entries, key=lambda e: (e["ref_s"], e["name"]))
        return [ranked[(2 * k + 1) * len(ranked) // (2 * n)]["name"]
                for k in range(n)]
    gates = [e for e in pool if e["module"] == STREAMING]
    rest = [e for e in pool if not (w["streaming"] and e in gates)]
    picks = centres(rest, w["sample"])
    if w["streaming"]:
        picks += centres(gates, 1)
    random.Random(seed).shuffle(picks)
    return picks


def prepare(workload, seed, seconds, trace, run_dir):
    """Generate the run's inputs; return the JVM plan and the checker."""
    w = WORKLOADS[workload]
    # the traced run replays its batches twice, untraced and traced
    batches = max(2, round(seconds / w["batch_s"] / (2 if trace else 1)))
    plan = {"kind": w["kind"], "trace": trace, "cores": CORES,
            "setups": SETUPS, "batches": batches,
            "work": os.path.join(run_dir, "work")}
    if w["kind"] == "board":
        q = query_pools()
        plan["data"] = board_tables()
        plan["pools"] = [e["name"] for e in q["light"] + q["heavy"]]
        plan["queries"] = sample(q[w["pool"]], w, seed)
        expected = load_json(os.path.join(HERE, "expected.json"))["queries"]
        return plan, lambda res: check_board(res, expected)
    feed_dir = os.path.join(run_dir, "feed")
    os.makedirs(feed_dir)
    warm = Feed(seed + 104729, WARM_NEOS, start="2026-07-01")
    timed = Feed(seed, w["per_day"])
    for f in (warm, timed):
        for d, text in f.days(2 if f is warm else batches):
            with open(os.path.join(feed_dir, f"{d}.json"), "w") as fh:
                fh.write(text)
    plan["feed"] = feed_dir
    plan["warm_days"] = [e["date"] for e in warm.expected]
    plan["days"] = [e["date"] for e in timed.expected]
    expected = {e["date"]: e for e in warm.expected + timed.expected}
    return plan, lambda res: check_medallion(res, expected)


def check_board(res, expected):
    """Mark each operation ok or not: rows (and, for the hash pass, the
    content hash) must equal the frozen values."""
    for op in res["ops"]:
        exp = expected.get(op["name"])
        op["ok"] = ("error" not in op and exp is not None
                    and op.get("rows") == exp["rows"]
                    and (op["kind"] != "hash" or op.get("hash") == exp["hash"]))


def check_medallion(res, expected):
    """Gold row counts and the star join's row count after each day must
    equal what the generated feed implies."""
    for op in res["ops"]:
        ok = "error" not in op
        if ok and op["kind"].endswith(".read"):
            ok = op["rows"] == expected[op["day"]][op["name"]]
        elif ok and op["kind"].endswith(".star"):
            ok = op["rows"] == expected[op["day"]]["star_join"]
        op["ok"] = ok


def end_to_end(kind, res):
    """Batches are whole passes over the board sample, or feed days; the
    reads are board queries, or the serving reads after each day."""
    ops = res["ops"]
    if kind == "board":
        reads = [o for o in ops if o["kind"] == "query"]
        n = len({o["name"] for o in reads})
        groups = [reads[i:i + n] for i in range(0, len(reads), n)]
        batches = [sum(o["s"] for o in g) for g in groups]
    else:
        reads = [o for o in ops if o["kind"].startswith("serve.")]
        groups = [[o for o in reads if o["day"] == d]
                  for d in sorted({o["day"] for o in reads})]
        batches = [o["s"] for o in ops if o["kind"] == "day"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "queries_per_s": statistics.median(
            sum(o["ok"] for o in g) / sum(o["s"] for o in g) for g in groups),
        "batch_p50_s": statistics.median(batches),
        "retained_heap_mb": statistics.median(res["heap_mb"]),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    cp = build()
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan, check = prepare(a.workload, a.seed, a.seconds, a.trace, run_dir)
        res = run_jvm(cp, plan, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    check(res)
    failed = sum(not o["ok"] for o in res["ops"])
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: wrong or failed: {json.dumps(o)}",
                  file=sys.stderr)
    kind = WORKLOADS[a.workload]["kind"]
    if a.trace:
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"spans-{a.workload}-{a.seed}.json"),
                  "w") as f:
            json.dump(res["spans"], f)
        values = res["layers"]
        metrics = spec["per_layer"]
    else:
        values = end_to_end(kind, res)
        metrics = spec["end_to_end"]
    print(json.dumps({
        "correct": failed == 0, "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0),
                                "unit": m["unit"]} for m in metrics}}))


def run_jvm(cp, plan, run_dir, limit_s=RUN_LIMIT_S):
    for d in ("work", "stage", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    plan_file = os.path.join(run_dir, "plan.json")
    result_file = os.path.join(run_dir, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData"] + opens + [
        "-Dspark.ui.enabled=false",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", cp, "perfbench.Main", plan_file, result_file])
    env = dict(os.environ, SPARK_GRAFT_STAGE_DIR=f"{run_dir}/stage",
               SPARK_LOCAL_DIRS=f"{run_dir}/local")
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result_file):
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM ended with {code}:\n{tail}")
    return load_json(result_file)


if __name__ == "__main__":
    main()
