"""Output checks. A run whose outputs fail any of these is reported with
"correct": false and exits non-zero.

The reference is the independent per-document oracle
(`oracle/extract.py::extract_doc`), never the engine under test.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

META_KEYS = ("word_count", "char_count", "page_count", "has_images", "has_tables")


def sample_rows(n_docs: int, span_counts: np.ndarray, seed: int, k: int = 48) -> list[int]:
    """Deterministic doc sample: k seeded rows plus the smallest mega-doc
    (the mega path must be checked too; the smallest keeps the pure-Python
    oracle cheap)."""
    from docling_nlp_api_spark.spec import MEGA_SPAN_THRESHOLD

    rng = np.random.default_rng([seed, 11])
    rows = set(rng.choice(n_docs, min(k, n_docs), replace=False).tolist())
    mega = np.nonzero(span_counts > MEGA_SPAN_THRESHOLD)[0]
    if len(mega):
        rows.add(int(mega[np.argmin(span_counts[mega])]))
    return sorted(rows)


def oracle_outputs(docs: list[dict]) -> dict[str, dict]:
    """Oracle result per doc_id for input rows {doc_id, spans}."""
    from docling_nlp_api_spark.oracle.extract import extract_doc

    out = {}
    for d in docs:
        # extract_doc annotates the span dicts it is given: pass copies
        r = extract_doc(d["doc_id"], [dict(s) for s in d["spans"]])
        out[d["doc_id"]] = {
            "spans": [(s.kind, s.text, s.media_ref, s.order) for s in r.spans],
            "status": r.status,
            "metadata": dict(r.metadata),
        }
    return out


def kernel_rows(out: pa.RecordBatch | pa.Table) -> dict[str, dict]:
    """Normalise extract_arrow.OUT_SCHEMA rows to the oracle's shape."""
    res = {}
    for r in out.to_pylist():
        if r["status"] == "failed":
            meta = {"error": r["error"]}
        else:
            meta = {
                "word_count": str(r["word_count"]),
                "char_count": str(r["char_count"]),
                "page_count": str(r["page_count"]),
                "has_images": "true" if r["has_images"] else "false",
                "has_tables": "true" if r["has_tables"] else "false",
            }
        res[r["doc_id"]] = {
            "spans": list(zip(r["kinds"], r["texts"], r["media_refs"], r["orders"])),
            "status": r["status"],
            "metadata": meta,
        }
    return res


def extracted_rows(table: pa.Table) -> dict[str, dict]:
    """Normalise extract() output rows (spans struct list, metadata map)."""
    res = {}
    for r in table.select(["doc_id", "spans", "status", "metadata"]).to_pylist():
        res[r["doc_id"]] = {
            "spans": [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]],
            "status": r["status"],
            "metadata": dict(r["metadata"]),
        }
    return res


def compare(expected: dict[str, dict], actual: dict[str, dict]) -> list[str]:
    """Mismatches of `actual` against the oracle on (kind, text, media_ref,
    order), status and the metadata counters."""
    errs = []
    for doc_id, exp in expected.items():
        got = actual.get(doc_id)
        if got is None:
            errs.append(f"{doc_id}: missing from output")
            continue
        if got["status"] != exp["status"]:
            errs.append(f"{doc_id}: status {got['status']!r} != {exp['status']!r}")
        if got["spans"] != exp["spans"]:
            errs.append(f"{doc_id}: spans differ ({len(got['spans'])} vs {len(exp['spans'])})")
        keys = META_KEYS if exp["status"] == "completed" else ("error",)
        for k in keys:
            if got["metadata"].get(k) != exp["metadata"].get(k):
                errs.append(
                    f"{doc_id}: metadata[{k}] {got['metadata'].get(k)!r} != {exp['metadata'].get(k)!r}"
                )
    return errs


def is_in_ids(table: pa.Table, ids: list[str]):
    return pc.is_in(table.column("doc_id"), pa.array(ids, type=pa.string()))


def parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    )


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(d))


def read_extracted(d: str) -> pa.Table:
    """An extract() output directory (hive part_id dirs ignored)."""
    cols = ["doc_id", "spans", "status", "metadata"]
    return pa.concat_tables([pq.read_table(p, columns=cols) for p in parquet_files(d)])


def content_fingerprint(table: pa.Table) -> str:
    """Order-independent fingerprint of extract() rows: sha256 over rows
    sorted by doc_id, metadata map entries sorted by key."""
    t = table.select(["doc_id", "spans", "status", "metadata"])
    t = t.take(pc.sort_indices(t, sort_keys=[("doc_id", "ascending")]))
    h = hashlib.sha256()
    for r in t.to_pylist():
        h.update(repr((r["doc_id"], r["spans"], r["status"], sorted(r["metadata"]))).encode())
    return h.hexdigest()


def check_pipeline(out_dir: str, ref_dir: str, run_id: str, n_partitions: int,
                   docs_in: int, spans_in: int) -> tuple[list[str], dict]:
    """Resumed pipeline output against an uninterrupted extract() of the
    same input, metric totals against input totals, and one checkpoint and
    one metrics row per partition id."""
    errs = []
    got = read_extracted(os.path.join(out_dir, "extracted"))
    ref = read_extracted(ref_dir)
    fp_got, fp_ref = content_fingerprint(got), content_fingerprint(ref)
    if fp_got != fp_ref:
        errs.append(f"resumed output fingerprint {fp_got[:12]} != extract() {fp_ref[:12]}")
    ck = pa.concat_tables(
        [pq.read_table(p) for p in parquet_files(os.path.join(out_dir, "_checkpoints"))]
    ).filter(pc.equal(pc.field("run_id"), run_id))
    mt = pa.concat_tables(
        [pq.read_table(p) for p in parquet_files(os.path.join(out_dir, "_metrics"))]
    ).filter(pc.equal(pc.field("run_id"), run_id))
    for name, t in (("checkpoint", ck), ("metrics", mt)):
        ids = sorted(t.column("partition_id").to_pylist())
        if ids != list(range(n_partitions)):
            errs.append(f"{name} rows are not one per partition id: {len(ids)} rows")
    for col, want in (("docs_in", docs_in), ("docs_out", docs_in), ("spans_in", spans_in)):
        total = pc.sum(mt.column(col)).as_py()
        if total != want:
            errs.append(f"metrics sum({col}) {total} != {want}")
    return errs, {
        "output_fingerprint": fp_got,
        "checkpoint_rows": ck.num_rows,
    }
