"""Seeded closed-loop benchmark of the engine's registry queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive_small --seed 1 --seconds 20 --trace 0

One client runs a workload's fixed rotation of oracle-backed registry queries
in one Spark session at ``local[nproc]``. Each timed query is build
(``QUERIES[name](spark, dir)``) + plan (force ``executedPlan``) + action (noop
write), followed by an untimed release step (drop references,
``clearCache()``, ``gc.collect()``). Before timing, one cold warm-up pass runs
every query once and checks its output against the query's DuckDB
``ORACLE``, and one untimed settle rotation follows it.

``--seconds`` fixes the amount of work: the run makes
``max(2, round(seconds / nominal_rotation_s))`` rotations, so every run of a
workload has the same query mix and sample count. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns on Spark's event log and alternates
untraced and traced rotations, prints the per-layer metrics of the traced
ones and writes the spans under ``.perfbench_run/``. The last stdout line is
one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "the_framework_for_clustering_time_series_data_spark"
sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402

#: the rotation entry that writes the curated corpus and reads it back
CURATE_WRITE = "curate_corpus+write_readback"

WORKLOADS = {
    # click-per-query session on tiny inputs: driver-side build dominates
    "interactive_small": {
        "sizes": {"events": (24, 30, 100), "documents": 300, "embeddings": 400},
        "queries": [
            "p5_preprocess_table", "g6_dtw_align", "pipeline_e2e_det", "e2c_pca_powerit",
            "t5_representative_plotdata", "dedup_minhash_lsh",
        ],
        "nominal_rotation_s": 6.5,
        "build_job_query": "dedup_minhash_lsh",
    },
    # dedup / text / curation with a write and read-back per rotation:
    # eager checkpoints, shuffles and writes carry the load
    "corpus_curation": {
        "sizes": {"documents": 2000},
        "queries": ["dedup_minhash_lsh", "text_tfidf_md5kmeans", CURATE_WRITE],
        "nominal_rotation_s": 9.0,
        "build_job_query": "dedup_minhash_lsh",
    },
}
GEN_REPEATS = 3
INITIAL_HEAP = "4g"
MB = float(1 << 20)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path, trace: bool) -> None:
    """Process environment for the Spark JVM and its Python workers: every
    scratch file stays under ``work`` and workers import the engine from
    the checkout whatever the current directory is."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    # a 4 GiB initial heap: grown from the JVM's small default, the heap
    # ended each run at a different size and the resident-memory peak
    # varied by up to 30% between runs; the maximum stays the engine's 8g
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{INITIAL_HEAP}"
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            # the default zstd codec cannot be read with the stdlib
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None


class Entry:
    """One rotation entry: a registry query, or the curated-corpus write."""

    def __init__(self, name: str, data: Path, out: Path):
        self.name = name
        self.query = "curate_corpus" if name == CURATE_WRITE else name
        self.data, self.out = str(data), out / name

    def build(self, spark, queries):
        return queries[self.query](spark, self.data)

    def act(self, spark, df, collect: bool):
        """Run the entry's action; with ``collect`` return (columns, rows)."""
        if self.name != CURATE_WRITE:
            if collect:
                return df.columns, df.collect()
            df.write.format("noop").mode("overwrite").save()
            return None
        from the_framework_for_clustering_time_series_data_spark.sources import writers

        writers.write_partitioned(df, str(self.out), ("lang",))
        back = spark.read.parquet(str(self.out))
        if collect:
            return back.columns, back.collect()
        back.write.format("noop").mode("overwrite").save()
        return None


def _force_plan(df):
    return df._jdf.queryExecution().executedPlan()


def _release(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()


def _oracle_tables(sql: str, tables) -> list[str]:
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def _gate(entry: Entry, got, con, oracle: dict, canon) -> str | None:
    """Compare one query's collected output with its DuckDB oracle; return
    a mismatch description or None."""
    sql = oracle.get(entry.query)
    if sql is None:
        return "no ORACLE"
    rel = con.sql(sql)
    nulls = lambda rows: [tuple("\0NULL" if v is None else v for v in r) for r in rows]  # noqa: E731
    cols, rows = got
    want = canon([c.lower() for c in rel.columns], nulls(rel.fetchall()))
    have = canon([c.lower() for c in cols], nulls(rows))
    if want != have:
        return f"oracle mismatch: {len(have)} rows vs {len(want)} expected"
    return None


def _percentile(values: list[float], p: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _tail(values: list[float]) -> tuple[int, float]:
    """Highest percentile (50, 55, ..., 95, 99) with at least ten samples
    beyond it; the median when there are fewer than twenty samples."""
    n = len(values)
    best = 50
    for p in list(range(50, 100, 5)) + [99]:
        if n * (100 - p) / 100 >= 10:
            best = p
    return best, _percentile(values, best) if n >= 2 else values[0]


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            child = int(stat.parent.name)
            out += [child] + _children(child)
    return out


def _stop(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python worker daemons, and wait
    until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while Path(f"/proc/{pid}").exists() and time.time() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, 9)


class JvmProbe:
    """The JVM-side reads of the traced run, made outside every timed phase."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.gc_beans = list(spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self.gc_beans)

    def persistent_ids(self) -> set[int]:
        return {int(k) for k in self.jsc.getPersistentRDDs().keySet().toArray()}

    def storage_mb(self, ids: set[int]) -> float:
        infos = self.jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos if int(i.id()) in ids) / MB


def _timed_entry(spark, e: Entry, queries) -> tuple[bool, float]:
    """One untraced query: build + plan + action, then release."""
    t0 = time.perf_counter()
    ok = True
    try:
        df = e.build(spark, queries)
        _force_plan(df)
        e.act(spark, df, collect=False)
    except Exception as exc:
        ok = False
        print(f"  {e.name}: raised {type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
    dt = time.perf_counter() - t0
    df = None
    _release(spark)
    return ok, dt


def _traced_entry(spark, e: Entry, queries, tracer, probe: JvmProbe, qrec: dict) -> tuple[bool, float]:
    """One traced query: the same phases as :func:`_timed_entry`, each a
    span, plus the per-query reads the layer metrics need."""
    qrec.update(py4j_calls=0, exchanges=0, plan_nodes=0, materialize_blocks=0,
                materialize_mb=0.0, write_mb=0.0)
    gc0, ids0 = probe.gc_ms(), probe.persistent_ids()
    df = plan = None
    ok = True
    t0 = time.perf_counter()
    try:
        n0 = tracer.py4j_calls
        with tracer.span("build"):
            df = e.build(spark, queries)
        qrec["py4j_calls"] = tracer.py4j_calls - n0
        with tracer.span("plan"):
            plan = _force_plan(df)
        with tracer.span("action"):
            e.act(spark, df, collect=False)
    except Exception as exc:
        ok = False
        print(f"  {e.name}: raised {type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
    dt = time.perf_counter() - t0
    if ok:
        qrec["plan_nodes"], qrec["exchanges"] = _plan_shape(plan)
        held = probe.persistent_ids() - ids0
        qrec["materialize_blocks"], qrec["materialize_mb"] = len(held), probe.storage_mb(held)
        if e.name == CURATE_WRITE:
            qrec["write_mb"] = _dir_mb(e.out)
    qrec["jvm_gc_s"] = (probe.gc_ms() - gc0) / 1e3
    df = plan = None
    with tracer.span("release"):
        _release(spark)
    qrec["blocks_left"] = len(probe.persistent_ids() - ids0)
    return ok, dt


def _plan_shape(plan) -> tuple[int, int]:
    lines = [ln for ln in plan.treeString().splitlines() if ln.strip()]
    return len(lines), sum(1 for ln in lines if "Exchange" in ln)


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / MB


def _warm_up(spark, entries, queries) -> tuple[dict, dict]:
    """Run every entry once, collecting its output; return the outputs and
    the entries that raised, with the error."""
    collected, gate = {}, {}
    for e in entries:
        try:
            df = e.build(spark, queries)
            _force_plan(df)
            collected[e.name] = e.act(spark, df, collect=True)
        except Exception as exc:  # a failing query is recorded, never dropped
            gate[e.name] = f"raised {type(exc).__name__}: {str(exc)[:300]}"
        df = None
        _release(spark)
    return collected, gate


def _oracle_gate(entries, collected, gate, rows, data, work, oracle, canon) -> None:
    """Fill ``gate`` with each entry's DuckDB ORACLE verdict (None = match)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={_nproc()}")
        con.execute(f"SET temp_directory='{work / 'tmp' / 'duckdb'}'")
        for t in rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
        for e in entries:
            if e.name in gate:
                continue
            try:
                gate[e.name] = _gate(e, collected.pop(e.name), con, oracle, canon)
            except Exception as exc:
                gate[e.name] = f"oracle raised {type(exc).__name__}: {str(exc)[:300]}"
    finally:
        con.close()


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    spec = WORKLOADS[workload]
    work = ROOT / ".perfbench_run" / f"{workload}-s{seed}-t{int(trace)}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, trace)
    data = work / "data"
    t_setup = time.perf_counter()

    gen_s: list[float] = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        rows = gen.generate(data, seed, spec["sizes"])
        gen_s.append(time.perf_counter() - t0)

    from the_framework_for_clustering_time_series_data_spark.preflight import memory_preflight
    from the_framework_for_clustering_time_series_data_spark.session import get_spark

    memory_preflight([str(data)], label=f"benchmark workload {workload}")
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        setup = {"t0": t_setup, "gen_s": gen_s, "session_s": session_s}
        return _measure(spark, spec, workload, seed, seconds, trace, work, rows, setup)
    finally:
        _stop(spark)
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work / "out", ignore_errors=True)


def _measure(spark, spec, workload, seed, seconds, trace, work, rows, setup) -> dict:
    from the_framework_for_clustering_time_series_data_spark.functions.parity import canon
    from the_framework_for_clustering_time_series_data_spark.plans.registry import ORACLE, QUERIES

    data = work / "data"
    gen_s = setup["gen_s"]
    entries = [Entry(name, data, work / "out") for name in spec["queries"]]
    input_rows = {e.name: sum(rows[t] for t in _oracle_tables(ORACLE.get(e.query, ""), rows)) for e in entries}

    # warm-up pass (cold codegen), timed into setup_s; its outputs feed the
    # untimed oracle gate
    t_warm = time.perf_counter()
    collected, gate = _warm_up(spark, entries, QUERIES)
    warm_s = time.perf_counter() - t_warm
    # the generator ran GEN_REPEATS times; count its median once
    setup_s = time.perf_counter() - setup["t0"] - sum(gen_s) + statistics.median(gen_s)
    t_gate = time.perf_counter()
    _oracle_gate(entries, collected, gate, rows, data, work, ORACLE, canon)
    gate_s = time.perf_counter() - t_gate

    # one untimed settle rotation: JIT compilation goes on well past the
    # cold pass, and without it the first timed rotation read 10-30% slower
    # than the last
    for e in entries:
        _timed_entry(spark, e, QUERIES)

    n_rot = max(2, round(seconds / spec["nominal_rotation_s"]))
    if trace:
        # untraced, traced, untraced, ...: the traced rotations sit between
        # untraced ones, so session drift cancels out of the overhead
        n_rot += 1
    tracer = probe = None
    if trace:
        import tracing
        from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline
        from the_framework_for_clustering_time_series_data_spark.sources import writers

        tracer = tracing.Tracer(f"{workload}-s{seed}")
        probe = JvmProbe(spark)
        # no oracle-backed query calls the facade's embed() or trace()
        targets = [(TimeSeriesPipeline, m, f"pipeline.{m}") for m in ("preprocess", "align", "cluster")]
        targets += [(writers, f, "sources.write") for f in dir(writers) if f.startswith("write_")]

    samples: list[tuple[int, str, float]] = []  # (rotation, entry, seconds)
    failed = 0
    t_loop = time.perf_counter()
    with tracer.span("workload", workload=workload) if trace else nullcontext():
        for r in range(n_rot):
            traced = trace and r % 2 == 1
            if traced:
                tracer.install(targets)
            for e in entries:
                if traced:
                    with tracer.span("query", query=e.name, rotation=r) as qrec:
                        ok, dt = _traced_entry(spark, e, QUERIES, tracer, probe, qrec)
                else:
                    ok, dt = _timed_entry(spark, e, QUERIES)
                samples.append((r, e.name, dt))
                failed += (not ok) or gate.get(e.name) is not None
            if traced:
                tracer.uninstall()
    loop_s = time.perf_counter() - t_loop

    # peak resident memory: driver JVM high-water mark + this Python process
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    peak_rss_mb = (_rss_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    times = [s for _, _, s in samples]
    first = {name: s for r, name, s in samples if r == 0}
    last = {name: s for r, name, s in samples if r == n_rot - 1}
    p_tail, tail = _tail(times)
    res = {
        "workload": workload, "seed": seed, "rotations": n_rot, "samples": len(times),
        "loop_s": loop_s, "gate_s": gate_s, "rows": rows, "gate": gate, "failed": failed,
        "setup": {"session_s": setup["session_s"], "gen_median_s": statistics.median(gen_s), "warmup_s": warm_s},
        "e2e": {
            "setup_s": setup_s,
            "query_p50_s": statistics.median(times),
            "query_tail_s": tail,
            "input_rows_per_s": sum(input_rows[name] for _, name, _ in samples) / sum(times),
            "failed_frac": failed / len(times),
            "peak_rss_mb": peak_rss_mb,
            "session_drift": statistics.median(last[name] / first[name] for name in first),
        },
        "tail_pct": p_tail,
        "per_rotation": [sum(s for r, _, s in samples if r == i) for i in range(n_rot)],
        "per_query": {e.name: statistics.median([s for _, n, s in samples if n == e.name]) for e in entries},
    }
    if trace:
        res["trace"] = {"tracer": tracer,
                        "untraced": [s for r, _, s in samples if r % 2 == 0],
                        "traced": [s for r, _, s in samples if r % 2 == 1]}
    return res


def _traced_layers(res: dict, work: Path, spec: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced rotations (sums per rotation) and
    the self-check problems, if any."""
    import tracing as tr

    t = res["trace"]
    tracer = t["tracer"]
    events = tr.read_event_log(work / "eventlog")
    agg = tr.attach_jobs(tracer, events)
    qspans = [s for s in tracer.spans if s["name"] == "query"]
    m = tr.layer_metrics(tracer, agg, qspans, _nproc())
    n_traced = len({s["rotation"] for s in qspans})
    layers = {k: v / n_traced if not k.endswith(("peak_exec_mem_mb", "slot_busy_frac")) else v
              for k, v in m.items()}
    layers["trace.overhead_s"] = statistics.median(t["traced"]) - statistics.median(t["untraced"])
    tracer.write(work / "spans.jsonl")
    problems = []
    if m["spark.exec.stages"] <= 0 or m["spark.exec.tasks"] <= 0:
        problems.append("event log gave no stage or task metrics")
    probe = spec["build_job_query"]
    per_q = tr.layer_metrics(tracer, agg, [s for s in qspans if s["query"] == probe], _nproc())
    if per_q["plans.build_job_s"] <= 0:
        problems.append(f"{probe} launched no Spark job at build")
    return layers, problems


UNITS = {"rows_per_s": "rows/s", "_s": "s", "_mb": "MB", "_frac": "ratio", "_drift": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"error: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    trace = bool(args.trace)
    res = run(args.workload, args.seed, args.seconds, trace)
    e2e = res["e2e"]
    print(f"workload={res['workload']} seed={res['seed']} rotations={res['rotations']} "
          f"samples={res['samples']} loop_s={res['loop_s']:.2f} gate_s={res['gate_s']:.2f} "
          f"rows={res['rows']}")
    print(f"setup: session {res['setup']['session_s']:.2f} s, generation (median of {GEN_REPEATS}) "
          f"{res['setup']['gen_median_s']:.3f} s, warm-up {res['setup']['warmup_s']:.2f} s")
    print("rotation totals: " + " ".join(f"{t:.2f}" for t in res["per_rotation"]) + " s")
    for name, sec in res["per_query"].items():
        print(f"  {name:34s} median {sec:.3f} s  gate: {res['gate'].get(name) or 'ok'}")
    for name, value in e2e.items():
        extra = {"query_p50_s": f" (n={res['samples']})",
                 "query_tail_s": f" (p{res['tail_pct']}, n={res['samples']})",
                 "failed_frac": f" ({res['failed']}/{res['samples']})"}.get(name, "")
        print(f"{name} = {value:.6g} {_unit(name)}{extra}")
    correct = res["failed"] == 0
    work = ROOT / ".perfbench_run" / f"{args.workload}-s{args.seed}-t{args.trace}"
    if trace:
        layers, problems = _traced_layers(res, work, WORKLOADS[args.workload])
        for p in problems:
            print(f"self-check FAILED: {p}")
        correct = correct and not problems
        total = layers["plans.build_s"] + layers["spark.catalyst.plan_s"] + layers["spark.exec.action_s"]
        print(f"traced layer shares of query time ({total:.2f} s per rotation): "
              + ", ".join(f"{k} {layers[k] / total:.1%}" for k in
                          ("plans.build_s", "plans.driver_self_s", "plans.build_job_s",
                           "spark.catalyst.plan_s", "spark.exec.action_s")))
        print(f"tracing overhead = {layers['trace.overhead_s']:.4f} s on query_p50_s; spans in {work / 'spans.jsonl'}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in e2e.items() if k != "failed_frac"}
    print(json.dumps({"correct": correct, "attempted": res["samples"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
