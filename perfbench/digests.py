"""Order-independent output digests, read straight from the written parquet.

extract / resume_skew: sha256 over url-sorted rows of (url, sha256 of
extracted_text / clean_text / raw_text / lines_json, printed_page,
printed_page_kind, is_garbage, parse_ok); lineage rows_in must sum to the
input page count.
prepare: sha256 over the doc_id-sorted keep-set (doc_id, sha256(text)),
checked together with the CLI's printed stage counts.
"""

from __future__ import annotations

import hashlib

import pyarrow.compute as pc
import pyarrow.parquet as pq

TEXT_COLS = ("extracted_text", "clean_text", "raw_text", "lines_json")
FLAG_COLS = ("printed_page", "printed_page_kind", "is_garbage", "parse_ok")


def _h(s: str | None) -> str:
    if s is None:
        return "-"
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def corpus_digest(table) -> str:
    """Digest of corpus rows (a pyarrow table with the CORPUS columns)."""
    table = table.sort_by("url")
    cols = [table.column(c).to_pylist() for c in ("url",) + TEXT_COLS + FLAG_COLS]
    h = hashlib.sha256()
    for row in zip(*cols):
        url, texts, flags = row[0], row[1:5], row[5:]
        h.update("\t".join([url, *map(_h, texts), *map(str, flags)]).encode())
        h.update(b"\n")
    return h.hexdigest()


def read_extract_cli(out_dir: str) -> dict:
    """CLI ``extract`` output root (corpus/ + lineage/)."""
    corpus = pq.read_table(f"{out_dir}/corpus", columns=["url", *TEXT_COLS, *FLAG_COLS])
    lineage = pq.read_table(f"{out_dir}/lineage", columns=["rows_in"])
    return {
        "digest": corpus_digest(corpus),
        "rows": corpus.num_rows,
        "lineage_rows": lineage.num_rows,
        "lineage_rows_in": int(pc.sum(lineage.column("rows_in")).as_py() or 0),
    }


def read_resumable(out_dir: str) -> dict:
    """``run_resumable`` output (data/ partitioned by bucket, combined
    corpus + lineage rows)."""
    t = pq.read_table(
        f"{out_dir}/data",
        columns=["row_kind", "url", *TEXT_COLS, *FLAG_COLS, "rows_in"],
        partitioning="hive",
    )
    data = t.filter(pc.equal(t.column("row_kind"), "data"))
    lineage = t.filter(pc.equal(t.column("row_kind"), "lineage"))
    return {
        "digest": corpus_digest(data),
        "rows": data.num_rows,
        "lineage_rows": lineage.num_rows,
        "lineage_rows_in": int(pc.sum(lineage.column("rows_in")).as_py() or 0),
    }


def read_prepare(out_dir: str) -> dict:
    t = pq.read_table(out_dir, columns=["doc_id", "text"]).sort_by("doc_id")
    h = hashlib.sha256()
    for doc_id, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        h.update(f"{doc_id}\t{_h(text)}\n".encode())
    return {"digest": h.hexdigest(), "rows": t.num_rows}
