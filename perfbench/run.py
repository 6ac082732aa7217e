#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload monthly_load --seed 1 --seconds 15 --trace 0

Builds the program and the JVM harness from source on first use (into
.bench_build/, or $CARGO_TARGET_DIR), runs the workload in one JVM with a
single client thread in a closed loop, checks every output, prints a table
of the metrics and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when any
output check fails. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import workbook  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("monthly_load", "query_sweep")
DATA = HERE / "data" / "sf0.001"
FINGERPRINTS = HERE / "fingerprints.json"
# The query_sweep set: the first query in name order of each module that
# registers queries, except Bpe (every Bpe query takes over 2 s a run, too
# long for a run to fit three passes), and from Warehouse a plain statements
# query and one that reads the program's per-process staged tables.
QUERIES = ("ann_brute_topk", "anti_join", "bm25_topk", "corpus_curate", "corpus_gate_apply",
           "cube_agg", "dedup_band_eval", "discount_elasticity", "fin_gl_normalize",
           "fin_ytd_staged", "graph_assortativity", "interval_join", "layout_skip_eval",
           "mm_caption_pairs")
# the program's own heap (build.sbt: SPARK_DRIVER_MEM, default 8g)
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """The Spark jar directory the program builds against: build.sbt's
    unmanagedBase, else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BenchError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def build(jars):
    """Compile the program and the harness with the Scala compiler that ships
    among the Spark jars; reuse the classes while the sources are unchanged."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").glob("*.scala"))
    if not program:
        raise BenchError("no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in program + harness:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    out = build_dir() / "classes"
    stamp = out / "STAMP"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return [out / "program", out / "harness"]
    shutil.rmtree(out, ignore_errors=True)
    cp = f"{jars}/*"
    for name, files, extra in (("program", program, ""), ("harness", harness, f"{out / 'program'}:")):
        (out / name).mkdir(parents=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", str(out / name), "-classpath", extra + cp] + [str(f) for f in files]
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0:
            raise BenchError(f"compiling the {name} failed:\n{r.stdout[-3000:]}{r.stderr[-3000:]}")
    stamp.write_text(digest.hexdigest())
    return [out / "program", out / "harness"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(classes, jars, run_dir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = ":".join(str(c) for c in classes) + f":{jars}/*"
    return (["java"] + opens +
            [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def start_jvm(classes, jars, run_dir, args):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    log = open(run_dir / "jvm.log", "w")
    return subprocess.Popen(jvm_command(classes, jars, run_dir, args), cwd=run_dir,
                            stdout=log, stderr=subprocess.STDOUT, env=env), log


def finish_jvm(proc, log, run_dir, deadline):
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("the harness did not finish in time")
    finally:
        log.close()
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-4000:]
        raise BenchError(f"the harness exited with {code}:\n{tail}")


# --------------------------------------------------------------------- runs

def run_sweep(opts, classes, jars, run_dir, fingerprints, launched):
    queries = sorted(fingerprints)
    result_path = run_dir / "result.json"
    proc, log = start_jvm(classes, jars, run_dir, {
        "workload": opts.workload, "seed": opts.seed, "seconds": opts.seconds,
        "trace": opts.trace, "out": result_path, "run-dir": run_dir, "data": DATA,
        "queries": ",".join(queries)})
    finish_jvm(proc, log, run_dir, launched + JVM_TIMEOUT_S)
    result = json.loads(result_path.read_text())
    attempted, failures = metrics.check_sweep(result, fingerprints)
    return result, attempted, failures


def run_monthly(opts, classes, jars, run_dir, launched):
    n_ops = workbook.WARMUP_LOADS + math.ceil(opts.seconds / 1.2)
    plan = workbook.plan(opts.seed, n_ops)
    inbox = run_dir / "inbox"
    plan_path = run_dir / "plan.tsv"
    rows = []
    for k, op in enumerate(plan):
        d = inbox / f"op{k:03d}"
        rows.append(f'{k}\t{op["kind"]}\t{op["year"]}\t{op["month"]}\t{d}')
    plan_path.write_text("\n".join(rows) + "\n")
    result_path = run_dir / "result.json"
    proc, log = start_jvm(classes, jars, run_dir, {
        "workload": opts.workload, "seed": opts.seed, "seconds": opts.seconds,
        "trace": opts.trace, "out": result_path, "run-dir": run_dir, "plan": plan_path,
        "history-rows": workbook.HISTORY_ROWS_PER_SHEET, "warmup-loads": workbook.WARMUP_LOADS})
    # the workbooks land while the JVM builds the history table
    facts, made = {}, {}
    try:
        for k, op in enumerate(plan):
            src = op.get("source", k)
            if src not in made:
                made[src] = workbook.workbook(opts.seed, op["year"], op["month"], op["version"])
            data, facts[k] = made[src]
            d = inbox / f"op{k:03d}"
            d.mkdir(parents=True)
            (d / workbook.file_name(op)).write_bytes(data)
            (d / ".ready").touch()
        Path(str(plan_path) + ".ready").touch()
    except BaseException:
        proc.kill()
        proc.wait()
        log.close()
        raise
    finish_jvm(proc, log, run_dir, launched + JVM_TIMEOUT_S)
    result = json.loads(result_path.read_text())
    attempted, failures = metrics.check_monthly(result, plan, facts.__getitem__,
                                                workbook.history_months())
    return result, attempted, failures


def record(opts, classes, jars, run_dir):
    """Record the fingerprints of QUERIES. Only do this at a commit whose
    query results are known to be right."""
    result, _, _ = run_sweep(opts, classes, jars, run_dir, dict.fromkeys(QUERIES), time.time())
    fp = {}
    for op in result["ops"]:
        if not op.get("ok"):
            raise BenchError(f'{op["name"]} failed while recording: {op.get("err")}')
        got = {"rows": op["rows"], "hash": op["hash"], "module": op["module"]}
        if fp.setdefault(op["name"], got) != got:
            raise BenchError(f'{op["name"]} is not deterministic: {fp[op["name"]]} vs {got}')
    FINGERPRINTS.write_text(json.dumps(dict(sorted(fp.items())), indent=1) + "\n")
    print(f"recorded {len(fp)} fingerprints to {FINGERPRINTS}")


def write_trace(opts, result, layer):
    d = build_dir() / "traces"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{opts.workload}-seed{opts.seed}-{int(time.time() * 1000)}.json"
    counts = ("construct_jobs", "jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
              "spill_memory_mb", "spill_disk_mb", "task_skew", "gc_s", "analysis_s",
              "optimization_s", "planning_s", "exec_s", "jit_s", "codegen_compiles")
    path.write_text(json.dumps({
        "workload": opts.workload, "seed": opts.seed, "seconds": opts.seconds,
        "spans": result["spans"],
        "ops": [{k: v for k, v in op.items() if k in counts or k in ("id", "name", "phase", "secs")}
                for op in result["ops"]],
        "per_layer": layer}))
    return path


def print_table(rows):
    for name, value, unit, n in rows:
        print(f"  {name:<44} {value:>14.6g} {unit:<6}" + (f" n={n}" if n else ""))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="record the query_sweep set and its fingerprints, then exit")
    opts = p.parse_args(argv)

    try:
        jars = spark_jars()
        classes = build(jars)
        run_dir = build_dir() / "runs" / f"{opts.workload}-seed{opts.seed}-{os.getpid()}"
        shutil.rmtree(run_dir, ignore_errors=True)
        (run_dir / "tmp").mkdir(parents=True)
        try:
            if opts.record:
                record(opts, classes, jars, run_dir)
                return 0
            launched = time.time()
            launched_us = int(launched * 1e6)
            if opts.workload == "monthly_load":
                result, attempted, failures = run_monthly(opts, classes, jars, run_dir, launched)
            else:
                fps = json.loads(FINGERPRINTS.read_text())
                result, attempted, failures = run_sweep(opts, classes, jars, run_dir, fps, launched)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except (BenchError, OSError, ValueError, KeyError) as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2

    for f in failures[:20]:
        print(f"CHECK FAILED {f}", file=sys.stderr)
    print(f"{opts.workload} seed={opts.seed} seconds={opts.seconds} trace={opts.trace} "
          f"failed_frac={len(failures) / attempted:.4f} ({len(failures)}/{attempted})")
    if opts.trace:
        layer = metrics.per_layer(result)
        out = {k: {"value": v, "unit": metrics.PER_LAYER[k]} for k, v in layer.items()}
        print_table([(k, v, metrics.PER_LAYER[k], None) for k, v in layer.items()])
        print(f"  trace written to {write_trace(opts, result, layer)}")
    else:
        e2e = metrics.end_to_end(result, launched_us)
        out = {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, (v, _) in e2e.items()}
        rows = [(k, v, metrics.END_TO_END[k], n) for k, (v, n) in e2e.items()]
        tail = metrics.op_tail(result)
        if tail:
            q, v, n = tail
            rows.append((f"op_p{round(q * 100)}_s (not gated)", v, "s", n))
        print_table(rows)
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
