"""Pure functions behind the benchmark's numbers: the tail-percentile rule,
the job-interval union behind the driver gap, call-site attribution, the
result fingerprint and the per-layer roll-up of one traced run."""
import datetime as dt
import decimal
import hashlib
import math
import statistics

# ── end-to-end ────────────────────────────────────────────────────────────


def tail(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it,
    by the nearest-rank rule. Returns (percentile, value, n), or None when
    fewer than 2 × `beyond` samples exist."""
    n = len(samples)
    if n < 2 * beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    rank = math.ceil(pct * n / 100)
    return pct, sorted(samples)[rank - 1], n


def late_early_ratio(night_seconds):
    """Median of the last third of timed nights over the median of the first
    third (the bootstrap night is not among them). With fewer than three
    nights each third is one night."""
    if len(night_seconds) < 2:
        return None
    k = max(1, len(night_seconds) // 3)
    return statistics.median(night_seconds[-k:]) / statistics.median(night_seconds[:k])


# ── driver gap ────────────────────────────────────────────────────────────


def union_length(intervals, lo=None, hi=None):
    """Total length covered by a set of [start, end] intervals, each first
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ── attribution ───────────────────────────────────────────────────────────

LAYERS = {
    "pipeline": ["DailyRun", "CorpusRun", "IndexRun", "ProductPipeline", "SemVersions"],
    "operators": ["Scd2", "Clean", "SurrogateKeys", "Upsert", "DimDate", "Dedup", "ZoneProbes",
                  "TextAnalysis", "Curation", "Clustering", "SimilaritySearch", "Profiling"],
    "sources": ["Zones", "CsvIngest"],
    "control": ["RunLedger"],
}
MODULES = [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms] + ["SparkEntry"]


def module_of_frame(frame):
    """'graft.pipeline.DailyRun$.$anonfun$run$1(DailyRun.scala:77)' →
    'pipeline.DailyRun'; top-level objects keep a 'graft.' prefix, except
    the query library, which is its own layer ('SparkEntry')."""
    cls = frame.strip().split("(", 1)[0].rsplit(".", 1)[0]
    parts = cls.split(".")
    parts[-1] = parts[-1].split("$", 1)[0]
    if len(parts) == 2:
        return "SparkEntry" if parts[1] == "SparkEntry" else cls.split("$", 1)[0]
    return ".".join(parts[1:3])


def attribute(call_site, span):
    """The module a job is charged to: the innermost `graft.` frame of its
    call site. A job whose call site holds no such frame is charged to the
    module whose call the benchmark span names when that call only
    materializes a plan the module built (`SparkEntry.result`); otherwise
    it is unattributed."""
    for frame in (call_site or "").splitlines():
        if frame.strip().startswith("graft."):
            return module_of_frame(frame)
    if span and span.endswith("/SparkEntry.result"):
        return "SparkEntry"
    return "unattributed"


# ── result fingerprints ───────────────────────────────────────────────────


def _canon_value(v):
    """One cell as a type-tagged tuple: numbers compare by value whatever
    their type (check_dtype=False), timestamps by their instant."""
    if v is None:
        return ("z",)
    if isinstance(v, bool):
        return ("b", int(v))
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return ("nan",)
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2 ** 53):
            return ("i", int(v) if isinstance(v, int) else int(f))
        return ("f", repr(f))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("D", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon_value(x) for x in v))
    return ("s", str(v))


def decode_jvm(v):
    """Inverse of the harness's JSON cell encoding."""
    if isinstance(v, list) and len(v) == 2 and isinstance(v[0], str):
        tag, x = v
        if tag == "d":
            return float(x)
        if tag == "n":
            return decimal.Decimal(x)
        if tag == "t":
            return dt.datetime.fromisoformat(x)
        if tag == "D":
            return dt.date.fromisoformat(x)
        if tag == "l":
            return [decode_jvm(e) for e in x]
    return v


def fingerprint(columns, rows):
    """check_oracle.py's canonical form, hashed: columns sorted by
    (lower-cased) name, rows sorted by all columns."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=lambda i: names[i])
    canon = sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([names[i] for i in order]).encode())
    h.update(repr(canon).encode())
    return h.hexdigest()


# ── per-layer roll-up of one traced run ───────────────────────────────────

# per-stage counters the Tracer records, summed over the stages a job ran
STAGE_KEYS = ["tasks", "tasks_failed", "task_s", "scheduler_delay_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "output_bytes"]
SPARK_KEYS = ["jobs", "stages", "stages_skipped"] + STAGE_KEYS
PLAN_KEYS = ["executions", "planning_s", "scan_files", "scan_bytes", "exchanges", "broadcasts",
             "sort_merge_joins", "codegen_s"]


def _unit(key):
    if key.endswith("_s"):
        return "s"
    if key.endswith(("bytes", "_live")) and "files" not in key:
        return "B"
    return "count"


# Every per-layer metric a traced run reports, as (name, unit, better).
PER_LAYER = (
    [(f"pipeline.{p}.call_s", "s", "lower") for p in ("DailyRun", "CorpusRun", "IndexRun")]
    + [("pipeline.late_early_ratio", "ratio", "lower"),
       ("SparkEntry.build_s", "s", "lower"), ("SparkEntry.result_s", "s", "lower")]
    + [(f"{mod}.{k}", _unit(k), "lower") for mod in MODULES
       for k in ("jobs", "job_s", "task_s", "shuffle_bytes")]
    + [("unattributed.job_s", "s", "lower")]
    + [(f"spark.{k}", _unit(k), "lower") for k in SPARK_KEYS]
    + [("driver.gap_s", "s", "lower"), ("driver.gap_share", "ratio", "lower")]
    + [(f"plan.{k}", _unit(k), "lower") for k in PLAN_KEYS]
    + [(f"fs.{k}", _unit(k), "lower")
       for k in ("files_written", "files_deleted", "files_live", "bytes_live")]
    + [("host.calib_s", "s", "lower"), ("host.nproc", "count", "higher"),
       ("host.load1", "ratio", "lower"), ("trace.overhead_share", "ratio", "lower")])


def per_layer(run):
    """Per-operation means of every layer metric over the timed operations
    of one traced harness run (see Harness.scala for the input shape).
    Returns (metrics, attributed share of job time)."""
    ops = [o for o in run["ops"] if o["timed"]]
    n = len(ops)
    trace = run["trace"]
    windows = {f"op{o['index']}": o for o in ops}
    stages = {s["id"]: s for s in trace["stages"]}
    jobs = [j for j in trace["jobs"] if j["span"] and j["span"].split("/")[0] in windows]

    # each executed stage is charged to one job: the first that lists it
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for sid in j["stages"]:
            if sid in stages and stages[sid]["tasks"] > 0:
                owner.setdefault(sid, j["id"])

    out = {f"{m}.{k}": 0.0 for m in MODULES for k in ("jobs", "job_s", "task_s", "shuffle_bytes")}
    out["unattributed.job_s"] = 0.0
    spark = dict.fromkeys(SPARK_KEYS, 0.0)
    per_op_intervals = {k: [] for k in windows}
    total_job_s = attributed_s = 0.0
    for j in jobs:
        op = j["span"].split("/")[0]
        end = j["end_ms"] if j["end_ms"] >= 0 else windows[op]["end_ms"]
        job_s = (end - j["start_ms"]) / 1e3
        per_op_intervals[op].append((j["start_ms"], end))
        own = [stages[s] for s in j["stages"] if owner.get(s) == j["id"]]
        skipped = [s for s in j["stages"] if owner.get(s) != j["id"]]
        mod = attribute(j["call_site"], j["span"])
        total_job_s += job_s
        if mod == "unattributed":
            out["unattributed.job_s"] += job_s
        else:
            attributed_s += job_s
            for k, v in (("jobs", 1), ("job_s", job_s), ("task_s", sum(s["task_s"] for s in own)),
                         ("shuffle_bytes", sum(s["shuffle_write_bytes"] for s in own))):
                out[f"{mod}.{k}"] = out.get(f"{mod}.{k}", 0.0) + v
        spark["jobs"] += 1
        spark["stages"] += len(own)
        spark["stages_skipped"] += len(skipped)
        for s in own:
            for k in STAGE_KEYS:
                spark[k] += s[k]
    out.update({f"spark.{k}": v for k, v in spark.items()})

    wall = sum(o["s"] for o in ops)
    gap = sum(o["s"] - union_length(per_op_intervals[f"op{o['index']}"], o["start_ms"],
                                    o["end_ms"]) / 1e3 for o in ops)
    out["driver.gap_s"] = gap

    plan = dict.fromkeys(PLAN_KEYS, 0.0)
    for p in trace["plans"]:
        if any(o["start_ms"] <= p["at_ms"] <= o["end_ms"] for o in ops):
            plan["executions"] += 1
            for k in PLAN_KEYS[1:-1]:
                plan[k] += p[k]
    plan["codegen_s"] = sum(o["codegen_s"] for o in ops)
    out.update({f"plan.{k}": v for k, v in plan.items()})

    for k in ("files_written", "files_deleted"):
        out[f"fs.{k}"] = sum(o["fs"][k] for o in ops)
    for name in ("pipeline.DailyRun", "pipeline.CorpusRun", "pipeline.IndexRun",
                 "SparkEntry.build", "SparkEntry.result"):
        key = name + ("_s" if name.startswith("SparkEntry") else ".call_s")
        out[key] = sum(c["s"] for o in ops for c in o["calls"] if c["name"] == name)

    metrics = {k: v / n for k, v in out.items()} if n else out
    metrics["driver.gap_share"] = gap / wall if wall else 0.0
    last = ops[-1]["fs"] if ops else {"files_live": 0, "bytes_live": 0}
    metrics["fs.files_live"] = last["files_live"]
    metrics["fs.bytes_live"] = last["bytes_live"]
    share = attributed_s / total_job_s if total_job_s else 1.0
    return metrics, share
