#!/usr/bin/env python3
"""Pipeline-first benchmark of the graft engine: one command, one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, runs the workload in one JVM against
local[N] (N = min(2, cores)), checks the outputs, and prints a summary
followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The run's full record (and, traced, every span) is kept
under .bench_build/runs/. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pipeline_trickle", "curation_gates")
DRAIN_URLS = 2_000
CORPUS_SCALE = 0.01
# gates for the layers the pipeline never reaches: streaming, graph and
# dedup operators, text functions, sources, multimodal (README: why not all
# twenty)
GATES = ("q_stream_join q_pagerank q_dedup_minhash q_substring_scrub "
         "q_warc_extract q_media_jpeg_prog").split()
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
DEADLINE_S = 170  # a run must end within 180 s; past this the JVM is killed

END_TO_END = {
    "setup_s": "s", "batch_p50_s": "s", "read_p50_ms": "ms", "read_tail_ms": "ms",
    "catalog_mb": "MB", "peak_rss_mb": "MB",
}
STAGES = ("seed", "locator", "enricher", "crm_sync")
PER_LAYER = {
    **{k: v for s in STAGES for k, v in (
        (f"pipeline.{s}_s", "s"), (f"pipeline.{s}.jobs", "count"), (f"pipeline.{s}.rows", "count"))},
    "pipeline.yield": "ratio",
    **{f"spark.{n}": u for n, u in (
        ("jobs", "count"), ("sql_executions", "count"), ("stages", "count"), ("tasks", "count"),
        ("analysis_ms", "ms"), ("optimization_ms", "ms"), ("planning_ms", "ms"),
        ("driver_gap_ms", "ms"), ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
        ("gc_ms", "ms"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))},
    "store.commits": "count", "store.slice_versions": "count", "store.bytes_written_mb": "MB",
    "store.snapshot_ms": "ms", "store.manifest_ms": "ms",
    **{f"query.{k}_ms": "ms" for k in ("find_unique", "find_many", "include", "count", "group_by")},
    **{k: v for g in GATES for k, v in ((f"gate.{g}_s", "s"), (f"gate.{g}.jobs", "count"))},
    "trace.overhead_pct": "%",
}
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def oracle_check(out_dir: Path, corpus: Path) -> list:
    """Each gate's parquet result against its oracle SQL run in DuckDB over
    the same corpus; returns one message per mismatch."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, str(Path.cwd() / "tools"))
    from check import canon  # the repository's oracle comparison
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus / (t + '.parquet')}'")
    bad = []
    for g in GATES:
        if g not in oracles:
            bad.append(f"{g}: no oracle")
            continue
        try:
            s_cols, s_rows = canon(pq.read_table(str(out_dir / g)).to_pandas())
            d_cols, d_rows = canon(con.sql(oracles[g]).df())
        except Exception as e:  # a crash in either engine is a failed check
            bad.append(f"{g}: {e}")
            continue
        if s_cols != d_cols:
            bad.append(f"{g}: columns spark={s_cols} duckdb={d_cols}")
        elif s_rows != d_rows:
            bad.append(f"{g}: rows differ (spark {len(s_rows)}, duckdb {len(d_rows)})")
    return bad


def run_jvm(args, jar: Path, work: Path, corpus: Path, budget: float) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # The first run in a checkout dumps the classes it loaded into a class
    # data sharing archive; later runs map it instead of loading the
    # Spark and Scala jars' classes one by one.
    cds = jar.with_suffix(".jsa")
    share = (f"-XX:SharedArchiveFile={cds}" if cds.exists()
             else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData",
            "-XX:CompileThresholdScaling=0.25", share]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", f"{jar}{os.pathsep}{build.spark_jars()}/*",
              "perfbench.PerfBench", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), str(work), str(corpus), ",".join(GATES),
              str(DRAIN_URLS)])
    with open(work / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {budget:.0f} s")
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write((work / "jvm.log").read_text()[-6000:] + stdout[-2000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    state = root / ".bench_build"
    jar = build.build(root, state)
    corpus = state / "corpus" / f"seed{args.seed}-sf{CORPUS_SCALE}"
    if args.workload == "curation_gates":
        gen.write(corpus, args.seed, CORPUS_SCALE)
    work = state / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    runs = state / "runs"
    runs.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        res = run_jvm(args, jar, work, corpus, DEADLINE_S - (time.monotonic() - t_start))
        errors = list(res["errors"])
        failed = res["failed"]
        if args.workload == "curation_gates":
            bad = oracle_check(work / "gate-out", corpus)
            failed += len(bad)
            errors += [f"oracle: {b}" for b in bad]
        if args.trace and (work / "trace.json").exists():
            shutil.copy(work / "trace.json", runs / f"{tag}-spans.json")
    finally:
        shutil.copy(work / "jvm.log", runs / f"{tag}.log")
        shutil.rmtree(work, ignore_errors=True)

    # final table counts must repeat for every run of one seed
    if res["fingerprint"]:
        key = f"{args.workload}-seed{args.seed}-batches{res['fingerprint']['batches']}"
        exp = state / "expect" / f"{key}.json"
        exp.parent.mkdir(parents=True, exist_ok=True)
        if exp.exists():
            want = json.loads(exp.read_text())
            if want != res["fingerprint"]:
                failed += 1
                errors.append(f"table counts {res['fingerprint']} differ from an earlier run's {want}")
        else:
            exp.write_text(json.dumps(res["fingerprint"], sort_keys=True))

    if args.trace:
        # tracing overhead: the traced unit 0 against the untraced unit 0
        # (batch_p50_s) of this checkout's earlier untraced runs of the
        # workload, or, with fewer than three of those, against this run's
        # untraced unit 1, which runs warmer and so flatters the overhead
        base = [r["end_to_end"]["batch_p50_s"] for r in
                (json.loads(f.read_text()) for f in runs.glob(f"{args.workload}-seed*-trace0.json"))
                if r["failed"] == 0]
        res["trace_overhead_base"] = f"{len(base)} untraced runs"
        if len(base) < 3:
            base = [u["ms"] / 1000 for u in res["unit_ms"] if not u["traced"]]
            res["trace_overhead_base"] = "this run's untraced unit"
        traced = [u["ms"] / 1000 for u in res["unit_ms"] if u["traced"]]
        if traced and base:  # else a unit failed, and the metric goes missing
            res["per_layer"]["trace.overhead_pct"] = \
                (statistics.median(traced) / statistics.median(base) - 1) * 100

    names = PER_LAYER if args.trace else END_TO_END
    values = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {}
    for n, unit in names.items():
        v = values.get(n)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            failed += 1
            errors.append(f"metric {n} missing")
            continue
        metrics[n] = {"value": v, "unit": unit}

    res.update(errors=errors, failed=failed)
    (runs / f"{tag}.json").write_text(json.dumps(res, indent=1))

    e2e = res["end_to_end"]
    print(f"workload {args.workload} seed {args.seed}: {len(res['unit_ms'])} units "
          f"in {res['measured_s']:.1f} s, ambient co-tenant cores {res['ambient_cores']:.2f}")
    if args.trace:
        print(f"  tracing overhead {res['per_layer'].get('trace.overhead_pct', math.nan):.1f} % "
              f"(traced unit vs {res['trace_overhead_base']})")
    else:
        for n, unit in END_TO_END.items():
            print(f"  {n:14s} {e2e[n]!s:>22} {unit}")
        if args.workload == "pipeline_trickle":
            print(f"  {'urls_per_s':14s} {50 / e2e['batch_p50_s']:>22} 1/s (50-URL batches)")
        else:
            print(f"  {'gates_s':14s} {e2e['batch_p50_s']!s:>22} s")
        print(f"  {'read_tail':14s} p{res['read_tail_percentile']:.0f} of {res['reads']} reads "
              f"({res['read_tail_beyond']} beyond)")
    print(f"  {'fail_ratio':14s} {failed / max(1, res['attempted']):>22} ({failed}/{res['attempted']})"
          f", include order defects {res['include_order_defects']}")
    for e in errors[:20]:
        print(f"  FAIL {e}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
