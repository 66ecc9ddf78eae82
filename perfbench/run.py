#!/usr/bin/env python3
"""The repo's benchmark: one run of one workload.

Usage, from the repo root:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program if needed (perfbench/build.py), then runs one JVM at
local[N], N = the CPUs this process may use. The JVM generates the
workload's fixtures from the seed, warms up, and measures a closed loop
(one client, one import or basket pass at a time) for S seconds. With
--trace 0 it reports the end-to-end metrics, with --trace 1 the per-layer
metrics; BENCHMARK.json names both sets and their units. Every run gates
correctness: the imports check their TableReports and read-back sums, the
basket's results must match their DuckDB oracle SQL, and the fixtures must
match perfbench/fixtures.json. Failures are listed on stderr and counted in
`failed`. The last stdout line is the result object; the line before it
stamps how the run was measured. The full artifact is kept under
.bench_build/runs/.
"""
import argparse
import glob
import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170
# a fixed-size heap: with G1 free to resize it, run-to-run spread of the
# timings was 3x wider
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BASKET_TABLES = ("documents", "embeddings", "lineitem")


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs, from /proc/stat: time a
    hypervisor gave the machine's CPUs to other guests explains runs
    that read slow."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def oracle_failures(root, work, tmp):
    """Compares each basket result with its DuckDB oracle SQL, using the
    canonical hash of tools/check_oracle.py."""
    import duckdb
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in BASKET_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/sf/{t}.parquet/*.parquet')")
    results = os.path.join(work, "results")
    oracles = json.load(open(os.path.join(results, "oracle_sql.json")))
    out = []
    for q, sql in sorted(oracles.items()):
        if not glob.glob(f"{results}/{q}/*.parquet"):
            out.append(f"{q}: no result written")
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{results}/{q}/*.parquet')")
        gcols = [c[0] for c in got.description]
        grows = got.fetchall()
        try:
            want = con.execute(sql)
        except duckdb.Error as e:
            out.append(f"{q}: oracle SQL failed: {e}")
            continue
        wcols = [c[0] for c in want.description]
        wrows = want.fetchall()
        if sorted(gcols) != sorted(wcols):
            out.append(f"{q}: columns {sorted(gcols)} != oracle {sorted(wcols)}")
        elif not grows:
            out.append(f"{q}: empty result")
        elif canon(grows, gcols)[0] != canon(wrows, wcols)[0]:
            out.append(f"{q}: {len(grows)} rows differ from the oracle's {len(wrows)}")
    return out


def fixture_failures(workload, scale, fixtures):
    """The generated tables must match the recorded rows and sums."""
    rec = json.load(open(os.path.join(HERE, "fixtures.json"))).get(scale, {}).get(workload)
    if rec is None:
        return [f"fixtures: nothing recorded for {scale}/{workload}"]
    recorded = rec["tables"]
    got = [{k: t[k] for k in ("table", "rows", "key_sum", "num_sum_x100")}
           for t in fixtures["tables"]]
    want = [{k: t[k] for k in ("table", "rows", "key_sum", "num_sum_x100")} for t in recorded]
    return [] if got == want else [f"fixtures: generated {got}, recorded {want}"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--scale", default="bench", choices=("bench", "tiny"),
                    help="fixture size; tiny is the self-test's")
    a = ap.parse_args()
    root = os.getcwd()
    try:
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    except OSError as e:
        fail(f"run from the repo root: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    try:
        classes, digest = build.ensure_built(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    t_start = time.monotonic()
    bdir = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bdir, "work", a.workload)
    runs = os.path.join(bdir, "runs")
    tmp = os.path.join(bdir, "tmp")
    for d in (work, runs, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classes + ":" + os.path.join(build.jars_dir(root), "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cpus", str(cpus), "--scale", a.scale,
            "--work", work, "--out", out])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    steal0, total0 = cpu_ticks()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, env=env, cwd=root,
                              timeout=RUN_LIMIT_S - (time.monotonic() - t_start))
    except subprocess.TimeoutExpired:
        fail(f"the JVM ran past {RUN_LIMIT_S} s and was killed", 1)
    if proc.returncode != 0 or not os.path.exists(out):
        fail(f"the JVM exited with {proc.returncode}", 1)
    steal1, total1 = cpu_ticks()
    art = json.load(open(out))
    failures = list(art["failures"])
    failed = art["failed"]
    if a.workload == "operators_basket":
        bad = oracle_failures(root, work, tmp)
        failures += bad
        failed += len(bad)
    # the fixture check is one more gated operation
    attempted = art["attempted"] + 1
    bad = fixture_failures(a.workload, a.scale, art["fixtures"])
    failures += bad
    failed += 1 if bad else 0
    for f in failures:
        sys.stderr.write(f"perfbench: FAILED {f}\n")

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = art["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured (got {v!r})", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    git = os.path.join(root, ".git")
    commit = (subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True).stdout.strip() if os.path.isdir(git) else None)
    art["stamp"].update(commit=commit, source_sha256=digest, failures=failures,
                        cpu_steal_share=(steal1 - steal0) / max(1, total1 - total0))
    with open(out, "w") as f:
        json.dump(art, f, indent=1)
    print(json.dumps({"perfbench_stamp": art["stamp"], "fixtures": {
        "bytes": art["fixtures"]["bytes"], "sha256": art["fixtures"]["sha256"]}}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
