#!/usr/bin/env python3
"""Repository benchmark: one named workload, one seed, one JVM.

    python3 perfbench/run.py --workload sql_tables --seed 1 --seconds 20 --trace 0

Builds the engine from source when needed (``build.py``), generates the
workload's inputs from the seed (``gen.py``), runs ``perfbench.Runner`` on
``local[<cores>]`` as a closed loop (one driver thread, one op at a time),
checks outputs and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` attaches a
SparkListener and a log appender, prints the per-layer metrics and writes
the run's spans to ``.bench_build/traces/<workload>-s<seed>.jsonl``.
``--short`` is the self-test: every workload at sf0.001 with a short timed
window, proving that each metric prints and every check passes.

All state lives under ``.bench_build/`` in the current checkout, and each
run's temporary root is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

# Ops run in the order the seed draws for each pass. Each workload stages
# only the ensure* fixtures its ops read.
WORKLOADS = {
    # read-only SQL surface over the TPC-H-like tables and `events`:
    # queries/, plans/ (range join rule, as-of join), streaming/ and the
    # sketch functions; no ext training, stores or ETL.
    "sql_tables": {
        "sf": 0.02,
        "ops": ["q_market_basket", "q_approx_sketch", "q_sessionize",
                "q_asof_join", "q_range_join", "q_incr_agg"],
        "fixtures": [],
    },
    # read-only LLM-data operators over documents/embeddings: dedup, text,
    # IVF/PQ search and sweeps; construction-heavy (Spark jobs and driver
    # training run before the sink); no etl/, qc/ or store writes.
    "llm_corpus": {
        "sf": 0.01,
        "ops": ["dedup_lsh_calibration", "text_nb_margin", "text_bpe", "ann_pq_curve",
                "ann_ivfpq_search", "q_bm25", "multimodal_image_dedup"],
        "fixtures": ["ivf_model", "pq_model", "pq_ivfpq_layout"],
    },
    # the reference's cadence: each pass lands the next month through
    # Pipeline.runEtlIncremental, runs Pipeline.runQc over the growing
    # table, then store execute ops; the only workload that writes.
    "daily_batch": {
        "sf": 0.01,
        "bas": 8, "stations": 40, "months": 6,
        "ops": ["q_delete_apply", "ann_retrain_apply", "dedup_incremental"],
        "fixtures": ["dedup_incremental_index", "ivf_model", "dedup_delete_fixture",
                     "ivf_retrain_fixture"],
    },
}

SHORT_SF = 0.001
SHORT_SECONDS = 2
JVM_BUDGET_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def declared(kind):
    """(name, unit) of each metric BENCHMARK.json lists under `kind`."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def oracle_failures(con, oracle_sql, outdir):
    """tools/check_oracle.py's compare: same columns, same row count, and
    equal values column by column (columns sorted by name, rows in the
    order both sides return them). Returns {op: reason} for mismatches."""
    import pandas as pd
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        got = pd.read_parquet(os.path.join(outdir, name))
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # the oracle itself failing is a failed check
            bad[name] = f"oracle SQL error: {e}"[:300]
            continue
        if sorted(got.columns) != sorted(exp.columns):
            bad[name] = f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"
            continue
        if len(got) != len(exp):
            bad[name] = f"row count differs: spark={len(got)} duckdb={len(exp)}"
            continue
        g = got[sorted(got.columns)].reset_index(drop=True)
        e = exp[sorted(exp.columns)].reset_index(drop=True)
        for c in g.columns:
            gv, ev = g[c], e[c]
            try:
                if gv.dtype == object:
                    same = (gv.fillna("\x00") == ev.fillna("\x00")).all()
                else:
                    same = ((gv.isna() == ev.isna()) & ((gv == ev) | gv.isna())).all()
            except Exception as ex:
                same, c = False, f"{c} ({ex})"
            if not same:
                bad[name] = f"values differ in column {c}"
                break
    return bad


def run(args):
    spec = WORKLOADS[args.workload]
    try:
        classpath = build.build()
    except build.BuildError as e:
        log(str(e))
        return 2
    t_setup = time.time()
    sf = SHORT_SF if args.short else spec["sf"]
    seconds = SHORT_SECONDS if args.short else args.seconds
    tag = f"{args.workload}-s{args.seed}"
    root = os.path.join(build.OUT, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "local", "scratch", "hadoop", "warehouse"):
        os.makedirs(os.path.join(root, d))
    try:
        data = os.path.join(root, "data")
        gen.write_tables(data, args.seed, sf)
        extra = []
        if args.workload == "daily_batch":
            months = os.path.join(root, "months")
            n_months = 3 if args.short else spec["months"]
            eia = gen.write_months(months, args.seed, n_months, spec["bas"], spec["stations"])
            in_rows, in_bytes = [], []
            for k, rows in enumerate(eia):
                days = (gen.month_start(k + 1) - gen.month_start(k)).days
                in_rows.append(rows + days * spec["stations"] * len(gen.GHCN_PARAMS))
                mdir = os.path.join(months, f"m{k:03d}")
                in_bytes.append(sum(os.path.getsize(os.path.join(d, f))
                                    for d, _, fs in os.walk(mdir) for f in fs))
            extra = [f"months={months}", f"bas={spec['bas']}",
                     "eia_rows=" + ",".join(map(str, eia)),
                     "in_rows=" + ",".join(map(str, in_rows)),
                     "in_bytes=" + ",".join(map(str, in_bytes))]
        gen_s = time.time() - t_setup
        out_json = os.path.join(root, "result.json")
        spans = os.path.join(build.OUT, "traces", f"{tag}.jsonl")
        cores = os.cpu_count() or 1
        cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Runner",
                f"workload={args.workload}", "ops=" + ",".join(spec["ops"]),
                "fixtures=" + ",".join(spec["fixtures"]), f"data={data}",
                f"root={root}", f"seconds={seconds}", f"seed={args.seed}",
                f"trace={args.trace}", f"cores={cores}",
                f"launch_ms={int(t_setup * 1000)}", f"gen_s={gen_s}",
                f"out={out_json}", f"spans={spans}"] + extra
        os.makedirs(os.path.join(build.OUT, "logs"), exist_ok=True)
        log_path = os.path.join(build.OUT, "logs", f"{tag}.log")
        with open(log_path, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root)
            try:
                code = proc.wait(timeout=max(10.0, JVM_BUDGET_S - (time.time() - T_START)))
            except subprocess.TimeoutExpired:
                log(f"runner exceeded its time budget; log: {log_path}")
                return 3
            finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(out_json):
            log(f"runner exited with {code}; log: {log_path}")
            return 3
        with open(out_json) as fh:
            res = json.load(fh)
        t_jvm = time.time()

        failed, attempted = res["failed"], res["attempted"]
        errors = dict(res["errors"])
        if res["oracle_sql"]:
            import duckdb
            con = duckdb.connect()
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data, t)}.parquet')")
            bad = oracle_failures(con, res["oracle_sql"], os.path.join(root, "oracle"))
            attempted += len(res["oracle_sql"])
            failed += len(bad)
            errors.update({f"oracle:{k}": v for k, v in bad.items()})
        log(f"runner {t_jvm - t_setup:.1f}s, output checks {time.time() - t_jvm:.1f}s")
        for k, v in sorted(errors.items()):
            log(f"FAILED {k}: {v}")
        log(f"{res['passes']} timed passes; per-op median wall s: {json.dumps(res['op_wall_s'])}")

        if args.trace:
            layers = res["layers"]
        else:
            layers = dict(res["e2e"], ok_rate=1.0 - failed / attempted)
        names = declared("per_layer" if args.trace else "end_to_end")
        missing = [n for n, _ in names if n not in layers]
        if missing:
            log(f"runner did not report {missing}")
            return 3
        metrics = {n: {"value": layers[n], "unit": u} for n, u in names}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--short", action="store_true",
                    help=f"self-test: sf{SHORT_SF} inputs and a {SHORT_SECONDS}s timed window")
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
