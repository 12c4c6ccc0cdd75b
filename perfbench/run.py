#!/usr/bin/env python3
"""Extraction benchmark: the Arrow kernel, and the checkpointed
ExtractionPipeline with a crash and a resume.

    python3 perfbench/run.py --workload kernel_ascii --seed 1 --seconds 3 --trace 0

Workloads (why each was chosen: BENCHMARK.json):

- kernel_ascii / kernel_unicode: extract_arrow.extract_map_in_arrow over
  cached 256-doc RecordBatches, one thread, no JVM. kernel_unicode carries
  non-ASCII text in a fixed share of span texts.
- pipeline_resume: ExtractionPipeline.run on local[nproc], crashed with
  fail_after_batches after its first commit batch, then resumed under the
  same run_id (8 partitions, 4 per commit batch).

Each run starts fresh worker processes (perfbench/worker.py) one after the
other; each sets up, reports READY, then measures its share of --seconds.
Inputs are a seeded sample of a fixed fixture pool (perfbench/inputs.py),
prepared and cached before any worker starts, so no timed region and no
set-up time includes input generation.

With --trace 0 the last stdout line carries the end-to-end metrics:
  setup_s               median worker set-up: process start to READY
  docs_per_s            docs / median time of a kernel pass over all
                        batches, or of a crash+resume cycle (docs committed)
  peak_rss_mb           median over workers of the peak summed RSS of the
                        worker's process tree (Python driver, JVM, Python
                        workers), sampled from /proc
  out_bytes_per_in_byte output over input bytes: parquet on disk
                        (pipeline), Arrow buffers (kernel)
  ok_op_frac            kernel calls / pipeline runs / extract() jobs that
                        did not raise, over those attempted; the injected
                        crash is expected and counts as ok
With --trace 1 it carries every per-layer metric of BENCHMARK.json, from
one traced worker. Layers the workload does not run read 0: the kernel
workloads have no JVM and no pipeline. Spans and the Spark event log of a
traced run are kept in .perfbench/traces/.

Every run checks its outputs against the independent oracle
(oracle/extract.py); a wrong output prints "correct": false and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
CORES = len(os.sched_getaffinity(0))

WORKLOADS = {
    "kernel_ascii": {"kind": "kernel", "docs": 2048, "mega": 2, "unicode_share": 0.0, "workers": 3},
    "kernel_unicode": {"kind": "kernel", "docs": 2048, "mega": 2, "unicode_share": 0.25, "workers": 3},
    "pipeline_resume": {
        "kind": "pipeline", "docs": 1000, "mega": 1, "workers": 1,
        "partitions": 8, "batch": 4, "crash_after": 1, "min_passes": 2, "reps": 4,
    },
}
# workers still running this long after the run started are killed, so a
# hung run ends within the 180 s a run may take
RUN_TIMEOUT_S = 170


def _metrics(values: dict, kind: str) -> dict:
    """`values` as the result's metrics: every metric BENCHMARK.json lists
    under `kind` ("end_to_end" or "per_layer"), with its unit; a metric
    without a value reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}


# ---------------------------------------------------------------------------
# inputs

def prepare_inputs(name: str, seed: int) -> dict:
    from perfbench import inputs

    w = WORKLOADS[name]
    fmt = "arrow" if w["kind"] == "kernel" else "parquet"
    pool_dir = inputs.ensure_pool(CACHE, CORES)
    pool = None

    def load_pool():
        nonlocal pool
        if pool is None:
            pool = inputs.read_pool(pool_dir)
        return pool

    def build_warm():
        # 256 normal docs, the same for every seed and workload
        return inputs.sample_docs(load_pool(), 0, 256, 0, "warm"), fmt

    def build():
        t = inputs.sample_docs(load_pool(), seed, w["docs"], w["mega"], name.split("_")[0])
        if w.get("unicode_share"):
            t = inputs.unicode_texts(t, seed, w["unicode_share"])
        return t, fmt

    warm_dir, _, _ = inputs.prepare(CACHE, f"warm-{fmt}", build_warm)
    in_dir, fp, stats = inputs.prepare(CACHE, f"{name}-s{seed}", build)
    return {"warm": warm_dir, "input": in_dir, "fingerprint": fp, "stats": stats, "fmt": fmt}


def sample_ids(inp: dict, seed: int) -> tuple[list[str], dict]:
    """Sampled doc ids and the oracle's output for each."""
    from perfbench import check, inputs

    table = inputs.read_docs(inp["input"])
    rows = check.sample_rows(table.num_rows, inputs.span_counts(table), seed)
    docs = table.take(rows).to_pylist()
    return [d["doc_id"] for d in docs], check.oracle_outputs(docs)


# ---------------------------------------------------------------------------
# workers

def _kill_tree(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return


def _wait_gone(pgid: int, timeout_s: float = 20.0) -> None:
    """Wait until no process of the worker's process group is left (the JVM
    and Python daemons exit after the worker; they are not our children)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        alive = False
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    if os.getpgid(int(name)) == pgid:
                        alive = True
                        break
                except OSError:
                    pass
        if not alive:
            return
        time.sleep(0.1)
    _kill_tree(pgid)


def spawn(spec: dict, env: dict, log_path: str, deadline: float) -> dict:
    """Run one worker to completion; returns its result plus set-up time
    and peak tree memory. Raises RuntimeError if it fails or is still
    running at `deadline` (time.monotonic())."""
    from perfbench.trace import PeakRss

    t0 = time.perf_counter()
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
            stdout=subprocess.PIPE, stderr=log, env=env, cwd=spec["work"],
            start_new_session=True, text=True,
        )
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), _kill_tree, (proc.pid,))
    timer.start()
    setup_s, result = None, None
    try:
        with PeakRss(proc.pid) as mem:
            for line in proc.stdout:
                if line.startswith("READY") and setup_s is None:
                    setup_s = time.perf_counter() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
            proc.wait()
    finally:
        timer.cancel()
        proc.stdout.close()
        _wait_gone(proc.pid)
    if proc.returncode != 0 or result is None or setup_s is None:
        with open(log_path, "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"worker exited {proc.returncode}:\n{tail}")
    result["setup_s"] = setup_s
    result["peak_rss_mb"] = mem.peak / 2**20
    result["rss_at_peak_mb"] = {k: round(v / 2**20) for k, v in mem.at_peak.items()}
    return result


def _env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        OMP_NUM_THREADS="1",
    )
    return env


# ---------------------------------------------------------------------------
# one run

def run(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from perfbench import check

    deadline = time.monotonic() + RUN_TIMEOUT_S
    w = WORKLOADS[name]
    inp = prepare_inputs(name, seed)
    ids, expected = sample_ids(inp, seed)
    run_id = f"{name}-s{seed}-{os.getpid()}"
    work = os.path.join(CACHE, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _env(work)
    in_file_bytes = check.dir_bytes(inp["input"]) if inp["fmt"] == "parquet" else 0
    base = {
        "root": ROOT, "kind": w["kind"], "cores": CORES, "docs": w["docs"],
        "input": os.path.join(inp["input"], "input.arrow") if inp["fmt"] == "arrow" else inp["input"],
        "warm": os.path.join(inp["warm"], "input.arrow") if inp["fmt"] == "arrow" else inp["warm"],
        "run_id": run_id, "sample_ids": ids, "in_file_bytes": in_file_bytes,
        "local_dir": env["SPARK_LOCAL_DIRS"], "tmp_dir": env["TMPDIR"], "trace": trace,
        **{k: w[k] for k in ("partitions", "batch", "crash_after", "min_passes", "reps") if k in w},
    }
    # a traced run is one traced worker: the kernel worker alternates traced
    # and untraced passes itself; a second, untraced Spark worker would take
    # a traced pipeline run past the time limit
    n_workers = 1 if trace else w["workers"]
    results = []
    try:
        for i in range(n_workers):
            wdir = os.path.join(work, f"w{i}")
            spec = dict(
                base, work=wdir, seconds=seconds / n_workers,
                event_dir=os.path.join(wdir, "events"),
                sample_out=os.path.join(wdir, "sample.arrow"),
                trace_out=os.path.join(wdir, "spans.json"),
            )
            os.makedirs(spec["event_dir"])
            results.append(spawn(spec, env, os.path.join(work, "worker.log"), deadline))
            results[-1]["spec"] = spec
        errs, details = verify(w, results, inp, expected, ids, run_id)
        if trace:
            metrics = layer_metrics(w, results, inp, details)
            keep = os.path.join(CACHE, "traces", run_id)
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(results[0]["spec"]["event_dir"], os.path.join(keep, "events"))
            shutil.copy(results[0]["spec"]["trace_out"], os.path.join(keep, "spans.json"))
        else:
            metrics = e2e_metrics(w, results, inp, in_file_bytes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    summary = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": CORES, "input_fingerprint": inp["fingerprint"], "input": inp["stats"],
        "workers": [
            {
                "setup_s": r["setup_s"],
                "peak_rss_mb": r["peak_rss_mb"],
                "rss_at_peak_mb": r["rss_at_peak_mb"],
                "timed_s": _timed(r),
            }
            for r in results
        ],
        "errors": errs + [e for r in results for e in r.get("errors", [])],
        **details,
    }
    final = {
        "correct": not errs and failed < attempted,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return summary, final


def _timed(r: dict) -> list[float]:
    """Seconds of each timed pass (kernel) or crash+resume cycle (pipeline)."""
    if "passes" in r:
        return [p["s"] for p in r["passes"] if p["ok"]]
    return [c["leg1_s"] + c["leg2_s"] for c in r["cycles"]]


def verify(w: dict, results: list, inp: dict, expected: dict, ids: list, run_id: str):
    """Output checks for every worker of the run."""
    import pyarrow.ipc as ipc

    from perfbench import check

    errs: list[str] = []
    details: dict = {}
    docs = inp["stats"]["input.docs"]
    for i, r in enumerate(results):
        if w["kind"] == "kernel":
            ok = [p for p in r["passes"] if p["ok"]]
            r["attempted"] = sum(p["calls"] for p in r["passes"])
            r["failed"] = sum(1 for p in r["passes"] if not p["ok"])
            if len({p["spans_out"] for p in ok}) > 1:
                errs.append(f"worker {i}: passes disagree on spans out")
            if not ok:
                errs.append(f"worker {i}: no kernel pass completed")
                continue
            with ipc.open_file(r["spec"]["sample_out"]) as f:
                got = check.kernel_rows(f.read_all())
            errs += [f"worker {i}: {e}" for e in check.compare(expected, got)]
            continue
        if not r["cycles"] or not os.path.isdir(r["ref_dir"]):
            errs.append(f"worker {i}: no complete crash+resume cycle")
            continue
        if not all(c["crashed"] for c in r["cycles"]):
            errs.append(f"worker {i}: injected crash did not fire")
        e, d = check.check_pipeline(
            r["out_dir"], r["ref_dir"], run_id, w["partitions"], docs, inp["stats"]["input.spans"]
        )
        errs += [f"worker {i}: {x}" for x in e]
        table = check.read_extracted(os.path.join(r["out_dir"], "extracted"))
        got = check.extracted_rows(table.filter(check.is_in_ids(table, ids)))
        errs += [f"worker {i}: {x}" for x in check.compare(expected, got)]
        r["out_bytes"] = check.dir_bytes(os.path.join(r["out_dir"], "extracted"))
        details["partitions_redone"] = d["checkpoint_rows"] - w["partitions"]
        details["output_fingerprint"] = d["output_fingerprint"]
    return errs, details


def e2e_metrics(w: dict, results: list, inp: dict, in_file_bytes: int) -> dict:
    docs = inp["stats"]["input.docs"]
    times = [t for r in results for t in _timed(r)]
    if w["kind"] == "kernel":
        out_ratio = statistics.median(
            p["out_bytes"] / r["in_bytes"] for r in results for p in r["passes"] if p["ok"]
        )
    else:
        out_ratio = statistics.median(r["out_bytes"] / in_file_bytes for r in results)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    values = {
        "setup_s": statistics.median(r["setup_s"] for r in results),
        "docs_per_s": docs / statistics.median(times),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in results),
        "out_bytes_per_in_byte": out_ratio,
        "ok_op_frac": (attempted - failed) / attempted,
    }
    return _metrics(values, "end_to_end")


def layer_metrics(w: dict, results: list, inp: dict, details: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json; layers this workload does
    not run read 0."""
    (r,) = results
    values = dict(inp["stats"], **r["layers"])
    if w["kind"] == "pipeline":
        values["pipeline.partitions_redone"] = details.get("partitions_redone", 0)
        values["trace.docs_per_s_traced"] = inp["stats"]["input.docs"] / statistics.median(_timed(r))
    else:
        values["trace.overhead_frac"] = 1.0 - (
            values["trace.docs_per_s_traced"] / values["trace.docs_per_s_untraced"])
    return _metrics(values, "per_layer")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "docling_nlp_api_spark")):
        print(f"perfbench: no docling_nlp_api_spark/ package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    summary, final = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"run": summary}))
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
