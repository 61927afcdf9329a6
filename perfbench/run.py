"""graft nightly-window benchmark.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source when it changed, generates the workload's
inputs from the seed, runs one fresh JVM over an empty warehouse in a
temporary directory, checks every operation's output against the planted
truth or the DuckDB oracle, and prints one JSON object as the last line of
standard output. See perfbench/README.md for the metrics.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as m  # noqa: E402

WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170  # the whole invocation, JVM included

# Nominal cost of one operation on a 4-core host: sizes a run from --seconds
# without reading the clock, so both sides of a comparison do the same work.
NIGHT_S = 12.5
CORPUS_NIGHT_S = 25.0
QUERY_ROUND_S = 7.0
PRODUCTS = 3000
CORPUS_FRESH = 150
TPCH_SF = 0.02
# The read-only reader mix: TPC-H shapes and the a-, j-, w-, tj- and set-
# families, none of which writes a path.
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders", "a8_distinct_counts",
    "j6_revenue_by_nation", "w1_top3_orders_per_segment", "tj2_range_ship_window",
    "set_intersect_nations"]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("wall_s", "s"), ("live_heap_mb", "MB")]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


# ── workloads: inputs, plan lines for the harness, truth per operation ────

def prepare(workload, seed, seconds, inputs):
    """Returns (plan lines, truth per operation, input rows fed). A ("G",)
    line samples the live heap: after every night, and after the warm-up
    pass and each round of the query mix."""
    if workload in ("warehouse_nights", "corpus_nights"):
        if workload == "warehouse_nights":
            kind, plan = "night", gen.warehouse(seed, 1 + max(1, round(seconds / NIGHT_S)),
                                                PRODUCTS, inputs)
        else:
            nights = 1 + max(2, round(seconds / CORPUS_NIGHT_S))
            kind, plan = "corpus", gen.corpus(seed, nights, CORPUS_FRESH, inputs,
                                              drift_night=nights)
        ops = [("B" if p["night"] == 1 else "T", kind, str(p["night"]), *p["inputs"],
                p["run_ts"]) for p in plan]
        truth = [dict(p["truth"], run_ts=p["run_ts"]) for p in plan]
        return _heap_after(ops, 1), truth, sum(p["rows"] for p in plan)
    if workload == "query_mix":
        tables = os.path.join(inputs, "tables")
        rows = gen.tpch(seed, TPCH_SF, tables)
        rng = random.Random(seed)
        ops = [("B", "query", q, tables) for q in QUERIES]
        # three rounds at least: op_tail_s needs 20 operations
        for _ in range(max(3, round(seconds / QUERY_ROUND_S))):
            rnd = list(QUERIES)
            rng.shuffle(rnd)
            ops += [("T", "query", q, tables) for q in rnd]
        return _heap_after(ops, len(QUERIES)), [None] * len(ops), rows
    raise SystemExit(f"unknown workload {workload!r}")


def _heap_after(ops, every):
    lines = []
    for i, op in enumerate(ops, 1):
        lines.append(op)
        if i % every == 0:
            lines.append(("G",))
    return lines


# ── output checks ─────────────────────────────────────────────────────────

def _ledger(con, wh, zone, day):
    return con.execute(
        f"SELECT status, message FROM read_parquet('{wh}/control/{zone}/*.parquet') "
        "WHERE CAST(start_time AS DATE) = CAST(? AS DATE)", [day]).fetchall()


def check_night(con, wh, t):
    """Night n against its planted truth, read from the warehouse the last
    night left: the zoned SCD2 history keeps every row with its created and
    expired times, and aggregate partitions, expiry partitions and ledger
    rows are never rewritten by a later night."""
    ts, day = t["run_ts"], t["run_ts"][:10]
    hist = f"read_parquet('{wh}/staging/products_expired/*/*.parquet', hive_partitioning = true)"
    live, expired = con.execute(
        f"SELECT count(*) FILTER (WHERE created_at <= CAST(? AS TIMESTAMP) "
        f"AND expired_at > CAST(? AS TIMESTAMP)), "
        f"count(*) FILTER (WHERE CAST(expired_day AS VARCHAR) = ?) FROM {hist}",
        [ts, ts, day]).fetchone()
    snapshot = con.execute(
        f"SELECT count(*) FROM read_parquet('{wh}/warehouse/aggregate/*/*.parquet', "
        f"hive_partitioning = true) a JOIN read_parquet('{wh}/warehouse/dim_date/*.parquet') d "
        "ON a.DATE_SK = d.DATE_SK WHERE d.FULL_DATE = CAST(? AS DATE)", [day]).fetchone()[0]
    ledger = _ledger(con, wh, "process_log", day)
    msg = f"Rows Processed: {t['processed']}. New Rows Inserted: {t['new'] + t['expired']}. " \
          f"Old Rows Expired (Updated): {t['expired']}."
    if live != t["live"]:
        return f"live SCD2 rows {live} != planted {t['live']}"
    if expired != t["expired"]:
        return f"rows expired tonight {expired} != planted {t['expired']}"
    if snapshot != t["live"]:
        return f"aggregate partition of {day} holds {snapshot} rows, expected {t['live']}"
    if len(ledger) != 1 or ledger[0][0] != "SUCCESS" or msg not in ledger[0][1]:
        return f"ledger rows {ledger} lack one SUCCESS row with '{msg}'"
    return None


def check_corpus(con, wh, t):
    day = t["run_ts"][:10]
    corpus, index = _ledger(con, wh, "corpus_log", day), _ledger(con, wh, "index_log", day)
    if len(corpus) != 1 or corpus[0][0] != "SUCCESS":
        return f"corpus ledger rows {corpus} lack one SUCCESS row"
    expected = [f"input {t['input']},", f"quality-dropped {t['quality']} ",
                f"exact-dup-dropped {t['exact']},", f"near-dup-dropped {t['near']},",
                f"sem-dup-dropped {t['sem']},", f"para-excised {t['excised']} of {t['paras']} ",
                f"published {t['published']}."]
    missing = [e for e in expected if e not in corpus[0][1]]
    if missing:
        return f"corpus ledger message lacks {missing}: {corpus[0][1]}"
    if len(index) != 1 or index[0][0] != "SUCCESS":
        return f"index ledger rows {index} lack one SUCCESS row"
    retrained = "rebuilt from the full zone at ivf" in index[0][1]
    if retrained != t["retrain"]:
        return f"IVF retrain {'ran' if retrained else 'did not run'}, planted " \
               f"{'a' if t['retrain'] else 'no'} drift: {index[0][1]}"
    return None


def oracle_fingerprints(ops, tables):
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    prints = {}
    for o in ops:
        name, obs = o["label"], o["obs"]
        if name in prints or "oracle_sql" not in obs:
            continue
        cur = con.execute(obs["oracle_sql"])
        prints[name] = m.fingerprint([d[0] for d in cur.description], cur.fetchall())
    return prints


def check_ops(workload, run, truth, work):
    """Returns {op index: failure cause} over every operation, bootstrap
    included."""
    ops, wh = run["ops"], os.path.join(work, "wh")
    con = duckdb.connect()
    prints = oracle_fingerprints(ops, os.path.join(work, "in", "tables")) \
        if workload == "query_mix" else {}
    failures = {}
    for o, t in zip(ops, truth):
        obs = o["obs"]
        if "error" in obs:
            failures[o["index"]] = obs["error"]
        elif o["kind"] == "night":
            failures[o["index"]] = check_night(con, wh, t)
        elif o["kind"] == "corpus":
            failures[o["index"]] = check_corpus(con, wh, t)
        else:
            got = m.fingerprint(obs["columns"], [[m.decode_jvm(v) for v in r] for r in obs["rows"]])
            if got != prints.get(o["label"]):
                failures[o["index"]] = f"result fingerprint {got[:12]} != oracle " \
                                       f"{str(prints.get(o['label']))[:12]} ({len(obs['rows'])} rows)"
    return {k: v for k, v in failures.items() if v}


# ── one JVM ───────────────────────────────────────────────────────────────

def run_jvm(classpath, lines, work, trace, deadline):
    plan_file = os.path.join(work, "plan.tsv")
    with open(plan_file, "w") as f:
        f.write("\n".join("\t".join(line) for line in lines) + "\n")
    out_file = os.path.join(work, "run.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dhadoop.tmp.dir={work}/tmp"]
    if trace:
        # call sites deep enough to reach the graft frame under Spark SQL's own
        cmd.append("-Dspark.callstack.depth=200")
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    launched = int(time.time() * 1000)
    cmd += ["-cp", classpath, "perfbench.Harness", plan_file, work, out_file, str(nproc()),
            str(launched), "1" if trace else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("the benchmark JVM overran its deadline")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out_file):
        with open(os.path.join(work, "jvm.log")) as log:
            tail = log.read()[-3000:]
        raise RuntimeError(f"the benchmark JVM exited with {code}:\n{tail}")
    with open(out_file) as f:
        return json.load(f)


def end_to_end(run, rows_fed):
    timed = [o["s"] for o in run["ops"] if o["timed"]]
    bytes_live = run["ops"][-1]["fs"]["bytes_live"]
    return {
        "setup_s": (run["first_timed_ms"] - run["launched_ms"] - run["bench_only_ms"]) / 1e3,
        "op_p50_s": statistics.median(timed),
        "wall_s": sum(timed),
        "live_heap_mb": max(run["heap_mb"]),
        "tail": m.tail(timed),
        "stored_bytes_per_row": bytes_live / rows_fed if bytes_live else None,
        "nights": timed,
    }


def one_pass(classpath, workload, seed, seconds, trace, deadline):
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK)
    try:
        if os.listdir(work):
            raise RuntimeError(f"refusing to start: {work} is not empty")
        inputs = os.path.join(work, "in")
        os.makedirs(inputs)
        lines, truth, rows_fed = prepare(workload, seed, seconds, inputs)
        run = run_jvm(classpath, lines, work, trace, deadline)
        failures = check_ops(workload, run, truth, work)
        return run, failures, end_to_end(run, rows_fed)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated benchmark still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    load1 = os.getloadavg()[0]
    try:
        classpath = build.build()
        # the untraced wall time of this very run (same code, seed and size),
        # the base of trace.overhead_share: kept from an earlier untraced
        # invocation in this checkout, else measured here after the traced
        # pass when the time limit allows
        twin = os.path.join(WORK, f"untraced-{a.workload}-{a.seed}-{a.seconds}-"
                                  f"{build.source_stamp()[:16]}.json")
        started = time.time()
        run, failures, e2e = one_pass(classpath, a.workload, a.seed, a.seconds, bool(a.trace),
                                      deadline)
        baseline_wall = None
        if not a.trace and not failures:
            with open(twin, "w") as f:
                json.dump({"wall_s": e2e["wall_s"]}, f)
        elif a.trace and os.path.exists(twin):
            with open(twin) as f:
                baseline_wall = json.load(f)["wall_s"]
        elif a.trace and deadline - time.time() > 1.2 * (time.time() - started):
            baseline_wall = one_pass(classpath, a.workload, a.seed, a.seconds, False,
                                     deadline)[2]["wall_s"]
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

    timed = [o for o in run["ops"] if o["timed"]]
    for o in run["ops"]:
        if o["index"] in failures:
            print(f"FAIL op{o['index']} {o['kind']} {o['label']}: {failures[o['index']]}")
    n_failed = sum(1 for o in timed if o["index"] in failures)
    tail = e2e["tail"]
    print(f"{a.workload} seed={a.seed} ops={len(timed)} nproc={run['cpus']} load1={load1:.2f}" +
          (f" calib_s={run['calib_s']:.3f}" if a.trace else ""))
    print("  " + "  ".join(f"{k}={e2e[k]:.4f} {u}" for k, u in E2E) +
          f"  fail_ratio={n_failed / len(timed):.4f} ratio" +
          (f"  op_tail_s={tail[1]:.4f} s (p{tail[0]} of {tail[2]})" if tail
           else "  op_tail_s=n/a (fewer than 20 operations)") +
          (f"  stored_bytes_per_row={e2e['stored_bytes_per_row']:.2f} B/row"
           if e2e["stored_bytes_per_row"] else ""))

    if a.trace:
        layer, share = m.per_layer(run)
        layer["pipeline.late_early_ratio"] = (m.late_early_ratio(e2e["nights"]) or 0.0) \
            if a.workload != "query_mix" else 0.0
        layer["host.calib_s"] = run["calib_s"]
        layer["host.nproc"] = run["cpus"]
        layer["host.load1"] = load1
        # -1: the untraced twin did not fit in this invocation's time limit
        layer["trace.overhead_share"] = e2e["wall_s"] / baseline_wall - 1 if baseline_wall else -1.0
        names = {name for name, _, _ in m.PER_LAYER}
        extra = {k: v for k, v in layer.items() if k not in names and v}
        print(f"  attributed job time share={share:.4f}" +
              (f"  other graft modules: {extra}" if extra else ""))
        result_metrics = {name: {"value": layer.get(name, 0.0), "unit": unit}
                          for name, unit, _ in m.PER_LAYER}
    else:
        result_metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": not failures, "attempted": len(timed),
                      "failed": n_failed, "metrics": result_metrics}))


if __name__ == "__main__":
    main()
