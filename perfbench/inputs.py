"""Seeded, cached workload inputs.

Every workload input is a seeded sample of one fixed document pool: the
first POOL_DOCS documents of the repo's fixture generator
(`datagen.gen_doc`, FIXTURES.md §1). Generating documents is the expensive
part (~70 us per span in one process), so the pool is built once per
checkout, in parallel, and every run only samples from it:

- normal documents: a seeded sample without replacement;
- mega-documents (10k-50k spans): a FIXED set per workload, so that the
  amount of work per run does not swing with which mega-docs a seed draws
  (one 50k-span doc is ~10% of a kernel pass);
- document order and doc_ids: seeded;
- `kernel_unicode` only: a fixed share of span texts rewritten with
  realistic non-ASCII text (see `unicode_texts`).

A prepared input is cached under its (workload, seed) key together with a
sha256 fingerprint of the exact bytes the program reads, so two runs of
one seed provably read identical bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

POOL_DOCS = 20000
POOL_VERSION = "pool-v1"
MAX_CACHED_INPUTS = 6
SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
        ("bbox", pa.list_(pa.float64())),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T))])


# ---------------------------------------------------------------------------
# pool

def _gen_shards(jobs: list[tuple[int, int, str]]) -> None:
    from docling_nlp_api_spark.datagen import gen_doc

    for lo, hi, path in jobs:
        rows = [gen_doc(num) for num in range(lo, hi)]
        table = pa.Table.from_pydict(
            {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]}, schema=DOC_SCHEMA
        )
        pq.write_table(table, path)


def ensure_pool(cache_dir: str, procs: int) -> str:
    """Build the document pool once per checkout: parquet shards generated
    by `procs` child processes, then combined into one Arrow IPC file that
    later runs memory-map. Returns the pool file's path.

    The children are plain subprocesses that this function waits for on
    every path out of it; multiprocessing would leave its resource-tracker
    process running past the benchmark's exit."""
    pool_path = os.path.join(cache_dir, POOL_VERSION + ".arrow")
    if os.path.exists(pool_path):
        return pool_path
    tmp = os.path.join(cache_dir, POOL_VERSION + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # small shards dealt out in turn, so that the few shards holding a
    # mega-doc spread over the processes
    step = 250
    jobs = [
        (lo, min(lo + step, POOL_DOCS + 1), os.path.join(tmp, f"shard-{lo:06d}.parquet"))
        for lo in range(1, POOL_DOCS + 1, step)
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    children = []
    try:
        for i in range(procs):
            children.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), json.dumps(jobs[i::procs])],
                cwd=root,
            ))
        codes = [c.wait() for c in children]
    finally:
        for c in children:
            if c.poll() is None:
                c.kill()
            c.wait()
    if any(codes):
        raise RuntimeError(f"pool generation failed: exit codes {codes}")
    table = pa.concat_tables([pq.read_table(j[2], schema=DOC_SCHEMA) for j in jobs])
    with ipc.new_file(os.path.join(tmp, "pool.arrow"), DOC_SCHEMA) as w:
        w.write_table(table.combine_chunks())
    os.rename(os.path.join(tmp, "pool.arrow"), pool_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return pool_path


def read_pool(pool_path: str) -> pa.Table:
    with pa.memory_map(pool_path) as source:
        return ipc.open_file(source).read_all()


def span_counts(table: pa.Table) -> np.ndarray:
    return np.asarray(table.column("spans").combine_chunks().value_lengths(), dtype=np.int64)


# ---------------------------------------------------------------------------
# seeded sample

def sample_docs(pool: pa.Table, seed: int, n_docs: int, n_mega: int, salt: str) -> pa.Table:
    """n_docs documents: a seeded sample of normal docs in seeded order,
    with the first n_mega pool mega-docs at fixed positions and
    seed-specific doc_ids."""
    from docling_nlp_api_spark.spec import MEGA_SPAN_THRESHOLD

    lens = span_counts(pool)
    mega = np.nonzero(lens > MEGA_SPAN_THRESHOLD)[0]
    normal = np.nonzero(lens <= MEGA_SPAN_THRESHOLD)[0]
    if len(mega) < n_mega or len(normal) < n_docs - n_mega:
        raise ValueError(f"pool too small for {n_docs} docs / {n_mega} mega-docs")
    rng = np.random.default_rng([seed, int(hashlib.md5(salt.encode()).hexdigest()[:8], 16)])
    pick = rng.choice(normal, n_docs, replace=False)
    # mega-docs sit at fixed, evenly spaced positions: where they fall
    # decides which Arrow batches and Spark tasks carry the skew, and a
    # seed-dependent placement would swing the makespan from run to run
    slots = (np.arange(n_mega) * n_docs) // max(n_mega, 1) + n_docs // (2 * max(n_mega, 1))
    pick[slots] = mega[:n_mega]
    out = pool.take(pa.array(pick))
    ids = pa.array([f"s{seed}-{salt}-{i:06d}" for i in range(n_docs)], type=pa.string())
    return out.set_column(0, "doc_id", ids).combine_chunks()


# Non-ASCII edits of kernel_unicode: typographic punctuation (U+2013-U+201D),
# NBSP, Latin-1 letters, CJK runs, and a few thin/ideographic spaces. Curly
# quotes, dashes and NBSP carry the lead bytes (0xC2, 0xE2) that send a row
# down `_count_words`' str.split() slow path; é and CJK do not.
_EDITS = (
    lambda t, w: "“" + t + "”",
    lambda t, w: t.replace(" ", " – ", 1),
    lambda t, w: t.replace(" ", " —", 1),
    lambda t, w: t.replace("e", "é", 2),
    lambda t, w: t + " 数据处理" if w % 2 else "文档 " + t,
    lambda t, w: t.replace(" ", " ", 1),
    lambda t, w: t.replace(" ", "’s ", 1),
    lambda t, w: t.replace(" ", " " if w % 2 else "　", 1),
)
# relative frequency of each edit above: the exotic spaces stay rare
_EDIT_P = np.array([0.2, 0.15, 0.1, 0.2, 0.15, 0.1, 0.07, 0.03])


def unicode_texts(table: pa.Table, seed: int, share: float) -> pa.Table:
    """Rewrite round(share * text spans) span texts with non-ASCII edits.
    The span selection and edit choice are seeded; everything else of the
    table is unchanged."""
    spans = table.column("spans").combine_chunks()
    flat = spans.flatten()
    texts = flat.field("text").to_pylist()
    cand = np.array([i for i, t in enumerate(texts) if t], dtype=np.int64)
    rng = np.random.default_rng([seed, 7])
    chosen = np.sort(rng.choice(cand, int(round(share * len(cand))), replace=False))
    edits = rng.choice(len(_EDITS), size=(len(chosen), 2), p=_EDIT_P)
    for (i, (a, b)) in zip(chosen.tolist(), edits.tolist()):
        t = _EDITS[a](texts[i], i)
        if i % 3 == 0:
            t = _EDITS[b](t, i + 1)
        # a one-word text has no space to replace: quote it instead
        texts[i] = t if t != texts[i] else "“" + t + "”"
    new_flat = pa.StructArray.from_arrays(
        [flat.field(f.name) if f.name != "text" else pa.array(texts, type=pa.string())
         for f in SPAN_T],
        fields=list(SPAN_T),
    )
    new_spans = pa.ListArray.from_arrays(spans.offsets, new_flat)
    return table.set_column(1, "spans", new_spans)


def nonascii_span_frac(table: pa.Table) -> float:
    import pyarrow.compute as pc

    texts = table.column("spans").combine_chunks().flatten().field("text")
    if len(texts) == 0:
        return 0.0
    return 1.0 - pc.sum(pc.string_is_ascii(texts).cast(pa.int64())).as_py() / len(texts)


def input_stats(table: pa.Table) -> dict:
    from docling_nlp_api_spark.spec import MEGA_SPAN_THRESHOLD

    import pyarrow.compute as pc

    lens = span_counts(table)
    texts = table.column("spans").combine_chunks().flatten().field("text")
    return {
        "input.docs": int(table.num_rows),
        "input.spans": int(lens.sum()),
        "input.bytes": int(pc.sum(pc.binary_length(texts)).as_py() or 0),
        "input.mega_docs": int((lens > MEGA_SPAN_THRESHOLD).sum()),
        "input.nonascii_span_frac": nonascii_span_frac(table),
    }


# ---------------------------------------------------------------------------
# cached prepared inputs

def fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def _data_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith((".parquet", ".arrow"))
    )


def write_input(table: pa.Table, out_dir: str, fmt: str, batch_docs: int = 256) -> None:
    """Kernel inputs: one Arrow IPC file of `batch_docs`-doc RecordBatches
    (what mapInArrow hands the kernel). Spark inputs: parquet split into
    min(64, max(8, docs // 256)) files, the layout datagen.spans_df writes."""
    os.makedirs(out_dir)
    if fmt == "arrow":
        with ipc.new_file(os.path.join(out_dir, "input.arrow"), DOC_SCHEMA) as w:
            for b in table.to_batches(max_chunksize=batch_docs):
                w.write_batch(b)
        return
    n = table.num_rows
    files = min(64, max(8, n // 256))
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def prepare(cache_dir: str, key: str, build) -> tuple[str, str, dict]:
    """Cached input for `key`: (directory, fingerprint, input stats).
    `build()` returns (table, fmt) and runs only on a cache miss; a hit
    re-hashes the files and rejects a cache entry whose bytes changed."""
    d = os.path.join(cache_dir, "inputs", key)
    meta_path = os.path.join(d, "_META.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if fingerprint(_data_files(d)) == meta["fingerprint"]:
            os.utime(d)
            return d, meta["fingerprint"], meta["stats"]
    shutil.rmtree(d, ignore_errors=True)
    table, fmt = build()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_input(table, tmp, fmt)
    meta = {"fingerprint": fingerprint(_data_files(tmp)), "stats": input_stats(table)}
    with open(os.path.join(tmp, "_META.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, d)
    _evict(os.path.dirname(d))
    return d, meta["fingerprint"], meta["stats"]


def _evict(inputs_dir: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(inputs_dir, e)), e)
        for e in os.listdir(inputs_dir)
        if not e.endswith(".tmp")
    )
    for _, e in entries[:-MAX_CACHED_INPUTS]:
        shutil.rmtree(os.path.join(inputs_dir, e), ignore_errors=True)


def read_docs(input_dir: str) -> pa.Table:
    files = _data_files(input_dir)
    if files[0].endswith(".arrow"):
        with ipc.open_file(files[0]) as r:
            return r.read_all()
    return pa.concat_tables([pq.read_table(f) for f in files])


if __name__ == "__main__":
    # one pool-generation child of ensure_pool: argv[1] is its JSON job list;
    # the repo root replaces this file's directory on the import path
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _gen_shards([tuple(j) for j in json.loads(sys.argv[1])])
