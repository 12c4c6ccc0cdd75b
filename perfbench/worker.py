"""One benchmark process. `run.py` starts it with a JSON spec argument.

Protocol on stdout: the line `READY` once set-up is done (imports,
session start and a warm-up pass over a small cached slice on the same code
path as the timed region), then one `RESULT <json>` line. The parent times
set-up from process start to `READY`, so set-up includes interpreter start.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

import numpy as np


def _ready() -> None:
    print("READY", flush=True)


def _result(d: dict) -> None:
    print("RESULT " + json.dumps(d), flush=True)


# ---------------------------------------------------------------------------
# kernel: extract_arrow on cached RecordBatches, one thread, no JVM

class KernelProbe:
    """Timing wrappers around extract_arrow.extract_record_batch and
    extract._count_words, installed at module attribute level. Both are
    looked up at call time (extract_map_in_arrow calls the module global;
    extract_record_batch imports _count_words per call), so swapping the
    attributes traces the unmodified engine."""

    def __init__(self, tracer):
        from docling_nlp_api_spark.operators import extract as extract_mod
        from docling_nlp_api_spark.operators import extract_arrow

        self.tracer = tracer
        self.ea, self.em = extract_arrow, extract_mod
        self.orig = (extract_arrow.extract_record_batch, extract_mod._count_words)

    def install(self) -> None:
        erb, cw = self.orig
        tracer = self.tracer

        def extract_record_batch(batch):
            t0 = time.time()
            out = erb(batch)
            tracer.add(
                "extract_arrow.extract_record_batch", t0, time.time(),
                spans_in=len(batch.column(1).flatten()), spans_out=len(out.column(1).flatten()),
            )
            return out

        def count_words(values):
            t0 = time.time()
            out = cw(values)
            if hasattr(values, "buffers"):
                offs = np.frombuffer(values.buffers()[1], dtype=np.int32)
                nbytes = int(offs[values.offset + len(values)] - offs[values.offset])
            else:
                nbytes = sum(len(str(v).encode()) for v in values)
            tracer.add("extract._count_words", t0, time.time(), bytes=nbytes)
            return out

        self.ea.extract_record_batch = extract_record_batch
        self.em._count_words = count_words

    def uninstall(self) -> None:
        self.ea.extract_record_batch, self.em._count_words = self.orig


def kernel_pass(batches) -> list:
    from docling_nlp_api_spark.operators import extract_arrow

    return list(extract_arrow.extract_map_in_arrow(batches))


def kernel_layer_metrics(tracer, passes: list[dict], n_batches: int) -> dict:
    """Per-pass kernel metrics from the spans of the traced passes."""
    traced = [p for p in passes if p["traced"]]
    calls, cws = [], []
    for p in traced:
        kids = [s for s in tracer.spans if s["parent"] == p["span"]]
        calls.append([s for s in kids if s["name"] == "extract_arrow.extract_record_batch"])
        cws.append([s for s in kids if s["name"] == "extract._count_words"])
    call_ms = sorted((s["end"] - s["start"]) * 1e3 for c in calls for s in c)
    busy = statistics.median(sum(s["end"] - s["start"] for s in c) for c in calls)
    cw_busy = statistics.median(sum(s["end"] - s["start"] for s in c) for c in cws)

    def pct(q):
        return call_ms[min(len(call_ms) - 1, int(q * len(call_ms)))]

    untraced = [p["docs"] / p["s"] for p in passes if not p["traced"]]
    traced_dps = [p["docs"] / p["s"] for p in traced]
    return {
        "extract_arrow.busy_s": busy,
        "extract_arrow.calls": len(calls[0]),
        "extract_arrow.slices_per_batch": len(calls[0]) / n_batches,
        "extract_arrow.call_p50_ms": pct(0.50),
        "extract_arrow.call_p99_ms": pct(0.99),
        "extract_arrow.spans_in": sum(s["spans_in"] for s in calls[0]),
        "extract_arrow.spans_out": sum(s["spans_out"] for s in calls[0]),
        "count_words.busy_s": cw_busy,
        "count_words.share": cw_busy / busy,
        "count_words.bytes": sum(s["bytes"] for s in cws[0]),
        "trace.docs_per_s_traced": statistics.median(traced_dps),
        "trace.docs_per_s_untraced": statistics.median(untraced) if untraced else 0.0,
    }


def kernel_loop(batches, seconds: float, tracer=None, min_passes: int = 1) -> tuple[list[dict], list]:
    """Timed passes over all batches until `seconds` have passed. With a
    tracer, even passes run with the probe installed and odd passes
    without, so the same process measures the tracing overhead."""
    import pyarrow as pa

    probe = KernelProbe(tracer) if tracer is not None else None
    n_docs = sum(b.num_rows for b in batches)
    passes, outs = [], []
    deadline = time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() < deadline:
        traced = probe is not None and len(passes) % 2 == 0
        rec = {"traced": traced, "docs": n_docs, "ok": True}
        with tracer.span("kernel.pass") if traced else contextlib.nullcontext() as span:
            if traced:
                rec["span"] = span["id"]
                probe.install()
            t0 = time.perf_counter()
            try:
                outs = kernel_pass(batches)
            except Exception as exc:  # a failed pass is counted, not fatal
                rec["ok"] = False
                rec["error"] = repr(exc)[:300]
                outs = []
            finally:
                rec["s"] = time.perf_counter() - t0
                if traced:
                    probe.uninstall()
        rec["calls"] = len(outs) if rec["ok"] else 1
        rec["spans_out"] = sum(len(o.column(1).values) for o in outs)
        rec["out_bytes"] = sum(o.get_total_buffer_size() for o in outs)
        passes.append(rec)
    table = pa.Table.from_batches(outs) if outs else None
    return passes, table


def run_kernel(spec: dict) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.ipc as ipc

    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    with ipc.open_file(spec["warm"]) as r:
        warm = [r.get_batch(i) for i in range(r.num_record_batches)]
    kernel_pass(warm)
    _ready()

    with ipc.open_file(spec["input"]) as r:
        batches = [r.get_batch(i) for i in range(r.num_record_batches)]
    # one untimed pass over the full input: the first pass over new batches
    # runs ~20% slower than the ones after it
    kernel_pass(batches)
    tracer = None
    if spec["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer(spec["run_id"])
    passes, table = kernel_loop(batches, spec["seconds"], tracer, min_passes=2 if tracer else 1)
    res = {
        "passes": [{k: v for k, v in p.items() if k != "span"} for p in passes],
        "in_bytes": sum(b.get_total_buffer_size() for b in batches),
    }
    if table is not None:
        sample = table.filter(pc.is_in(table.column("doc_id"), pa.array(spec["sample_ids"])))
        with ipc.new_file(spec["sample_out"], sample.schema) as w:
            w.write_table(sample)
    if tracer is not None:
        res["layers"] = kernel_layer_metrics(tracer, passes, len(batches))
        tracer.write(spec["trace_out"])
    _result(res)


# ---------------------------------------------------------------------------
# Spark workloads

def _spark(spec: dict):
    from docling_nlp_api_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": spec["local_dir"],
        # a fixed, pre-touched 2 GB heap: the JVM's resident size is then
        # set by this configuration instead of by when the collector last
        # grew the heap, which otherwise swings peak memory by ~0.7 GB
        # between identical runs
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={spec['tmp_dir']}"
        ),
    }
    if spec["trace"]:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + spec["event_dir"],
                # Spark 4 compresses event logs with zstd by default
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=spec["cores"], extra_conf=conf)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _parquet_out(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


class _Ops:
    """Counts the benchmark's Spark operations and the ones that raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(repr(exc)[:300])

    def run(self, fn) -> float | None:
        """Seconds `fn()` took, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # counted as a failed operation
            self.fail(exc)
            return None
        return time.perf_counter() - t0


def cycle(spark, spec: dict, df, out_dir: str, ops: _Ops) -> dict | None:
    """One crash+resume cycle: run() with fail_after_batches, then run()
    again under the same run_id. Returns its timings, or None if a run
    raised anything but the injected crash."""
    from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline
    from perfbench.trace import tree_cpu_s

    p = ExtractionPipeline(spark, out_dir, run_id=spec["run_id"],
                           n_partitions=spec["partitions"], batch_size=spec["batch"])
    cyc = {"w0": time.time(), "cpu_s": -tree_cpu_s(os.getpid()), "crashed": False}
    t0 = time.perf_counter()
    ops.attempted += 1
    try:
        p.run(df, fail_after_batches=spec["crash_after"])
    except Exception as exc:
        if not (isinstance(exc, RuntimeError) and "injected failure" in str(exc)):
            ops.fail(exc)
            return None
        cyc["crashed"] = True
    cyc["leg1_s"] = time.perf_counter() - t0
    cyc["w1"] = time.time()
    if spec["trace"]:
        t = time.perf_counter()
        p.pending_partitions()
        cyc["plan_s"] = time.perf_counter() - t
    cyc["w2"] = time.time()
    t1 = time.perf_counter()
    ops.attempted += 1
    try:
        summary = p.run(df)
    except Exception as exc:
        ops.fail(exc)
        return None
    cyc["leg2_s"] = time.perf_counter() - t1
    cyc["w3"] = time.time()
    cyc["cpu_s"] += tree_cpu_s(os.getpid())
    cyc["leg2_batches"] = summary["batches"]
    return cyc


LAYERS = ("scan", "transfer", "kernel", "assemble", "write")


def extract_layers(spark, spec: dict, ops: _Ops, ref_dir: str) -> dict:
    """Cumulative layering of extract() on the workload input, interleaved
    over `reps` rounds: scan->noop, + identity mapInArrow,
    + mapInArrow(extract_map_in_arrow), extract()->noop,
    extract()->parquet. A layer's time is the difference of consecutive
    medians, so the layers sum to the last one; that sum is set against
    the median of separately timed extract()->parquet passes, the last of
    which leaves the reference output for the resume check."""
    from docling_nlp_api_spark.operators.extract import extract
    from docling_nlp_api_spark.operators.extract_arrow import (
        OUT_SPARK_SCHEMA,
        extract_map_in_arrow,
    )

    def src():
        return spark.read.parquet(spec["input"]).select("doc_id", "spans")

    layer_out = os.path.join(spec["work"], "layer_out")
    steps = {
        "scan": lambda: _noop(src()),
        "transfer": lambda: _noop(src().mapInArrow(_identity, schema=src().schema)),
        "kernel": lambda: _noop(src().mapInArrow(extract_map_in_arrow, schema=OUT_SPARK_SCHEMA)),
        "assemble": lambda: _noop(extract(src())),
        "write": lambda: _parquet_out(extract(src()), layer_out),
        "e2e": lambda: _parquet_out(extract(spark.read.parquet(spec["input"])), ref_dir),
    }
    cum: dict[str, list] = {k: [] for k in steps}
    # round 0 is untimed: each plan compiles and warms its own code on
    # first use, which the set-up slice only did for the pipeline's plans
    for rnd in range(spec["reps"] + 1):
        for name, fn in steps.items():
            dt = ops.run(fn)
            if dt is not None and rnd > 0:
                cum[name].append(dt)
    med = {k: statistics.median(v) for k, v in cum.items()}
    layers = {}
    prev = 0.0
    for name in LAYERS:
        layers[f"{name}.s"] = med[name] - prev
        prev = med[name]
    layers["layers.sum_over_e2e"] = med["write"] / med["e2e"]
    layers["e2e_s"] = med["e2e"]
    return layers


def run_pipeline(spec: dict) -> None:
    import shutil

    from docling_nlp_api_spark.operators.extract import extract

    spark = _spark(spec)
    # a crash+resume cycle over the small slice, all partitions in one
    # commit batch: the batch runs the same Spark jobs (skew split, persist,
    # partitioned write, stats, commit appends) on as many Python workers
    # as a timed batch, and the resume runs the checkpoint read
    cycle(spark, dict(spec, batch=spec["partitions"], crash_after=1), spark.read.parquet(spec["warm"]),
          os.path.join(spec["work"], "warm"), _Ops())
    _ready()

    df = spark.read.parquet(spec["input"])
    ops = _Ops()
    cycles = []
    out_dir = None
    deadline = time.perf_counter() + spec["seconds"]
    while len(cycles) < spec["min_passes"] or time.perf_counter() < deadline:
        if out_dir is not None:
            shutil.rmtree(out_dir, ignore_errors=True)
        out_dir = os.path.join(spec["work"], f"pipe{len(cycles)}")
        cyc = cycle(spark, spec, df, out_dir, ops)
        if cyc is None:
            break
        cycles.append(cyc)

    ref_dir = os.path.join(spec["work"], "ref")
    res = {"cycles": cycles, "out_dir": out_dir, "ref_dir": ref_dir}
    if spec["trace"] and cycles:
        layers = extract_layers(spark, spec, ops, ref_dir)
    else:
        ops.run(lambda: _parquet_out(extract(df), ref_dir))
    spark.stop()
    if spec["trace"] and cycles:
        from perfbench.trace import Tracer

        layers.update(_pipeline_events(spec, cycles, layers.pop("e2e_s")))
        tracer = Tracer(spec["run_id"])
        for c in cycles:
            tracer.add("pipeline.leg1", c["w0"], c["w1"])
            tracer.add("pipeline.leg2", c["w2"], c["w3"])
        layers.update(_side_kernel(spec, tracer))
        tracer.write(spec["trace_out"])
        res["layers"] = layers
    res.update(attempted=ops.attempted, failed=ops.failed, errors=ops.errors)
    _result(res)


def _pipeline_events(spec: dict, cycles: list, e2e_s: float) -> dict:
    """Per-cycle pipeline metrics from the Spark event log, medians over
    cycles. Jobs are attributed by call site: the collects of
    plans/pipeline.py are the stats and checkpoint reads, writer jobs split
    by bytes written into output write and commit appends."""
    from perfbench.trace import (
        job_s,
        jobs_within,
        pipeline_job_class,
        read_event_log,
        spark_jobs,
        sql_executions,
        sql_metric,
        task_skew,
    )

    events = read_event_log(spec["event_dir"])
    jobs, execs = spark_jobs(events), sql_executions(events)
    rows = []
    for c in cycles:
        legs = jobs_within(jobs, c["w0"], c["w1"]) + jobs_within(jobs, c["w2"], c["w3"])

        def sql(name):
            return sql_metric(execs, name, c["w0"], c["w1"]) + sql_metric(execs, name, c["w2"], c["w3"])

        by: dict[str, float] = {}
        for j in legs:
            cls = pipeline_job_class(j)
            by[cls] = by.get(cls, 0.0) + job_s(j)
        batches = spec["crash_after"] + c["leg2_batches"]
        total = c["leg1_s"] + c["leg2_s"]
        rows.append(
            {
                "pipeline.leg1_s": c["leg1_s"],
                "pipeline.leg2_s": c["leg2_s"],
                "pipeline.batches": batches,
                "pipeline.jobs_per_batch": len(legs) / batches,
                "pipeline.write_s": by.get("write", 0.0),
                "pipeline.stats_s": by.get("stats", 0.0),
                "pipeline.commit_s": by.get("commit", 0.0),
                "pipeline.ckpt_read_s": by.get("ckpt_read", 0.0),
                "pipeline.other_s": total - sum(
                    by.get(k, 0.0) for k in ("write", "stats", "commit", "ckpt_read")),
                "pipeline.plan_s": c["plan_s"],
                "pipeline.read_amp": sql("size of files read") / spec["in_file_bytes"],
                "pipeline.overhead_s": total - e2e_s,
                "scan.bytes_read": sql("size of files read"),
                "write.bytes": sql("written output"),
                "write.files": sql("number of written files"),
                "shuffle.bytes": sum(j["shuffle_bytes"] for j in legs),
                "exec.cpu_s": sum(j["cpu_ns"] for j in legs) * 1e-9,
                "exec.gc_s": sum(j["gc_ms"] for j in legs) * 1e-3,
                "stage.task_skew": task_skew([j for j in legs if pipeline_job_class(j) == "write"]),
                "proc.cpu_s_per_kdoc": c["cpu_s"] / (spec["docs"] / 1000.0),
            }
        )
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def _side_kernel(spec: dict, tracer) -> dict:
    """Kernel metrics of this workload's input, measured in this process on
    256-doc batches (Spark's arrow.maxRecordsPerBatch) after the Spark work
    has finished: the pipeline runs the kernel in Python workers that this
    process cannot trace."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(spec["input"]) if f.endswith(".parquet"))
    table = pa.concat_tables([pq.read_table(os.path.join(spec["input"], f)) for f in files])
    batches = table.combine_chunks().to_batches(max_chunksize=256)
    passes, _ = kernel_loop(batches, 0.0, tracer, min_passes=2)
    m = kernel_layer_metrics(tracer, passes, len(batches))
    for k in ("trace.docs_per_s_traced", "trace.docs_per_s_untraced"):
        m.pop(k)
    return m


def main() -> None:
    spec = json.loads(sys.argv[1])
    sys.path.insert(0, spec["root"])
    {"kernel": run_kernel, "pipeline": run_pipeline}[spec["kind"]](spec)


if __name__ == "__main__":
    main()
