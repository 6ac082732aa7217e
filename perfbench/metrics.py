"""Turns one harness result into the benchmark's metrics and output checks.

Pure functions over the JSON the JVM harness writes, so they can be tested
without Spark.
"""

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
# the modules query_sweep runs queries of (all but Bpe)
MODULES = ("Relational", "TpchExtra", "Analytics", "Warehouse", "TextAnalysis",
           "TextStats", "TrainPrep", "Dedup", "Ann", "Graph", "Layout",
           "EventStreams", "Multimodal")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "GraftSession.start_s": "s",
    "staged.fill_s": "s",
    "SparkEntry.construct_s": "s",
    "SparkEntry.construct_jobs": "count",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec_s": "s",
    **{f"module.{m}_s": "s" for m in MODULES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill.disk_mb": "MB",
    "spill.memory_mb": "MB",
    "task.skew": "ratio",
    "gc_s": "s",
    "jvm.jit_s": "s",
    "codegen.compiles": "count",
    "Xlsx.parse_s": "s",
    "Warehouse.fact_s": "s",
    "Warehouse.rows_kept": "ratio",
    "Warehouse.derive_s": "s",
    "WarehouseStream.merge_s": "s",
    "WarehouseStream.read_s": "s",
    "WarehouseStream.bytes_written_per_row_in": "B/row",
    "WarehouseStream.stored_bytes_per_row": "B/row",
    "WarehouseStream.table_files": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead": "ratio",
}

PERCENTILES = (0.99, 0.95, 0.9, 0.75)


def beyond(n, q):
    """How many of n samples lie above the q-quantile."""
    return n - math.ceil(q * n)


def highest_percentile(n):
    """The highest of PERCENTILES with at least ten of n samples beyond it."""
    return next((q for q in PERCENTILES if beyond(n, q) >= 10), None)


def quantile(values, q):
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def _per_name(ops, key="secs"):
    out = {}
    for op in ops:
        if op.get("ok") and key in op:
            out.setdefault(op["name"], []).append(op[key])
    return out


# --------------------------------------------------------------- end to end

def end_to_end(result, launched_us):
    """Untraced metrics, each as (value, number of values it summarizes)."""
    timed = [op for op in result["ops"] if op["phase"] == "timed" and op.get("ok")]
    out = {"setup_s": ((result["first_op_us"] - launched_us) / 1e6, 1)}
    if result["workload"] == "monthly_load":
        loads = [op["load_s"] for op in timed]
        reads = [op["read_s"] for op in timed]
        out["op_p50_s"] = (median(loads), len(loads))
        out["pass_s"] = (median(loads) + median(reads), len(loads))
    else:
        # one value per query: the median of its timed runs (three or more)
        per = [median(v) for v in _per_name(timed).values()]
        out["op_p50_s"] = (median(per), len(per))
        out["pass_s"] = (sum(per), len(per))
    return out


def op_tail(result):
    """(percentile, value, samples) of the highest reportable percentile of
    the timed operations, or None when fewer than ten lie beyond any."""
    key = "load_s" if result["workload"] == "monthly_load" else "secs"
    xs = [op[key] for op in result["ops"] if op["phase"] == "timed" and op.get("ok")]
    q = highest_percentile(len(xs))
    return None if q is None else (q, quantile(xs, q), len(xs))


# ---------------------------------------------------------------- per layer

def per_layer(result):
    """Traced metrics; a layer the workload does not enter reads 0."""
    ops = result["ops"]
    traced = [op for op in ops if op["phase"] == "traced" and op.get("ok")]
    untraced = [op for op in ops if op["phase"] == "untraced" and op.get("ok")]
    layers = result["layers"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["GraftSession.start_s"] = result["session_start_s"]
    m["staged.fill_s"] = layers.get("staged.fill_s", 0.0)
    m["Warehouse.derive_s"] = layers.get("Warehouse.derive_s", 0.0)
    m["jvm.peak_rss_mb"] = result["peak_rss_kb"] / 1024.0

    def med(key):
        return median([op[key] for op in traced if key in op])

    def avg(key):
        return mean([op[key] for op in traced if key in op])

    m["plan.analysis_s"] = med("analysis_s")
    m["plan.optimization_s"] = med("optimization_s")
    m["plan.planning_s"] = med("planning_s")
    m["exec_s"] = med("exec_s")
    m["spark.jobs"] = avg("jobs")
    m["spark.stages"] = avg("stages")
    m["spark.tasks"] = avg("tasks")
    m["shuffle.write_mb"] = avg("shuffle_write_mb")
    m["shuffle.read_mb"] = avg("shuffle_read_mb")
    m["spill.disk_mb"] = avg("spill_disk_mb")
    m["spill.memory_mb"] = avg("spill_memory_mb")
    m["task.skew"] = med("task_skew")
    m["gc_s"] = avg("gc_s")
    m["jvm.jit_s"] = avg("jit_s")
    m["codegen.compiles"] = avg("codegen_compiles")

    if result["workload"] == "monthly_load":
        m["Xlsx.parse_s"] = med("parse_s")
        m["Warehouse.fact_s"] = median([op["prefix_fact_s"] - op["parse_s"] for op in traced])
        m["Warehouse.rows_kept"] = median([op["fact_rows"] / op["statement_rows"] for op in traced])
        m["WarehouseStream.merge_s"] = median([op["load_s"] - op["prefix_fact_s"] for op in traced])
        m["WarehouseStream.read_s"] = med("read_s")
        m["WarehouseStream.bytes_written_per_row_in"] = median(
            [op["table_bytes"] / op["fact_rows"] for op in traced])
        m["WarehouseStream.table_files"] = layers["WarehouseStream.table_files"]
        m["WarehouseStream.stored_bytes_per_row"] = layers["stored_bytes"] / layers["live_rows"]
        base = median([op["secs"] for op in untraced])
        m["trace.overhead"] = median([op["secs"] for op in traced]) / base - 1 if base else 0.0
    else:
        m["SparkEntry.construct_s"] = med("construct_s")
        m["SparkEntry.construct_jobs"] = avg("construct_jobs")
        every = [op for op in ops if op["phase"] in ("untraced", "traced") and op.get("ok")]
        per = {n: median(v) for n, v in _per_name(every).items()}
        module_of = {op["name"]: op.get("module", "") for op in every}
        for name, t in per.items():
            key = f"module.{module_of[name]}_s"
            if key in m:
                m[key] += t
        a, b = _per_name(untraced), _per_name(traced)
        both = sorted(set(a) & set(b))
        base = sum(median(a[n]) for n in both)
        m["trace.overhead"] = sum(median(b[n]) for n in both) / base - 1 if base else 0.0
    return m


# ------------------------------------------------------------------- checks

def check_sweep(result, fingerprints):
    """(attempted, failures): every query op must succeed and match its
    recorded (row count, hash) fingerprint."""
    failures = []
    for op in result["ops"]:
        want = fingerprints.get(op["name"])
        if not op.get("ok"):
            failures.append(f'{op["name"]}: {op.get("err", "failed")}')
        elif want is None:
            failures.append(f'{op["name"]}: no recorded fingerprint')
        elif (op["rows"], op["hash"]) != (want["rows"], want["hash"]):
            failures.append(f'{op["name"]}: got {op["rows"]} rows / {op["hash"]}, '
                            f'want {want["rows"]} / {want["hash"]}')
    return len(result["ops"]), failures


def check_monthly(result, plan, facts_of, history):
    """(attempted, failures) for monthly_load.

    plan: the ops as workbook.plan gives them; facts_of(k): the fact rows of
    op k's workbook; history: workbook.history_months(). Each op's Final
    read must match the fold after that op, the replay must leave the table
    checksum unchanged, and the final table must match history + fold per
    (year, month). The final-table check counts as one more attempt."""
    from workbook import Fold
    fold = Fold()
    failures = []
    ops = {op["id"]: op for op in result["ops"]}
    loaded = result["checks"]["ops_loaded"]
    for k in range(loaded):
        fold.load(plan[k]["stamp"], facts_of(k))
        op = ops.get(k)
        if op is None:
            failures.append(f"op {k}: no record")
            continue
        if not op.get("ok"):
            failures.append(f'op {k} ({op["name"]}): {op.get("err", "failed")}')
            continue
        want = fold.months().get((plan[k]["year"], plan[k]["month"]), (0, 0))
        if (op["read_rows"], op["read_cents"]) != want:
            failures.append(f'op {k}: Final read {op["read_rows"]} rows / '
                            f'{op["read_cents"]} cents, want {want[0]} / {want[1]}')
        if op["name"] == "replay" and op["checksum_before"] != op["checksum_after"]:
            failures.append(f'op {k}: replay changed the table checksum '
                            f'{op["checksum_before"]} -> {op["checksum_after"]}')
    want = dict(history)
    want.update(fold.months())
    got = {(y, mo): (n, c) for y, mo, n, c in result["checks"]["months"]}
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        failures.append(f"final table differs from the expected fold in {len(bad)} "
                        f"month(s), first {bad[0]}: got {got.get(bad[0])}, want {want.get(bad[0])}")
    return loaded + 1, failures
