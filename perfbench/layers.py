"""Per-layer measurements read from what the engine leaves on disk, plus an
in-process replay of the query kernels.

The replay reads a query's segment blocks with pyarrow (the same bucket and
term pruning the engine pushes into its Spark scan), then calls
``query.wand.score_group_wand`` / ``score_group_multi`` once per doc_range
group, with ``wand.decode_block`` wrapped to count decoded blocks. It runs
after the timed section, so it perturbs no end-to-end figure.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from searchengine_spark.index.build import IndexMeta, read_manifest
from searchengine_spark.query import wand
from searchengine_spark.tokenizer import tokenize_py


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def build_stats(index_dir: str) -> dict[str, float]:
    """Stage times of the LAST build recorded in the manifest and the size
    of what it wrote."""
    rows = read_manifest(index_dir)
    metrics = [r for r in rows if r["kind"] == "metrics"][-1]
    segs = [r for r in rows if r["kind"] == "segment"]
    postings = [r["n_postings"] for r in segs]
    n_post = sum(postings)
    st = metrics["stages_sec"]
    return {
        "build.a1_tf_stats_s": st["a1_tf_stats"],
        "build.a2_corpus_agg_s": st["a2_corpus_agg"],
        "build.a3_staged_write_s": st["a3_staged_write"],
        "build.b_dictionary_s": st["b_dictionary"],
        "build.c_encode_segments_s": st["c_encode_segments"],
        "build.bucket_postings_skew": max(postings) / statistics.fmean(postings),
        "build.staged_bytes": dir_bytes(os.path.join(index_dir, "staged")),
        "build.segment_bytes": dir_bytes(os.path.join(index_dir, "segments")),
        "build.dictionary_bytes": dir_bytes(os.path.join(index_dir, "dictionary")),
        "build.docstats_bytes": dir_bytes(os.path.join(index_dir, "docstats")),
        "codec.bytes_per_posting": sum(r["bytes"] for r in segs) / n_post,
        "codec.blocks": sum(r["n_blocks"] for r in segs),
    }


def tombstone_rows(index_dir: str) -> int:
    tdir = os.path.join(index_dir, "tombstones")
    if not os.path.isdir(tdir):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(tdir, n)).metadata.num_rows
        for n in os.listdir(tdir)
        if n.endswith(".parquet")
    )


class _DecodeCounter:
    """Wraps ``wand.decode_block`` (the name the kernels call) to count
    decoded blocks; restores the original on exit."""

    def __init__(self) -> None:
        self.calls = 0

    def __enter__(self):
        self._orig = wand.decode_block

        def counted(*a, **kw):
            self.calls += 1
            return self._orig(*a, **kw)

        wand.decode_block = counted
        return self

    def __exit__(self, *exc) -> None:
        wand.decode_block = self._orig


class KernelReplay:
    def __init__(self, index_dir: str, mask, tracer) -> None:
        self.meta = IndexMeta.load(index_dir)
        self.mask = mask
        self.tr = tracer
        self.dict_ds = ds.dataset(
            os.path.join(index_dir, self.meta.dictionary_dir), format="parquet"
        )
        self.seg_ds = ds.dataset(
            os.path.join(index_dir, self.meta.segments_dir),
            format="parquet", partitioning="hive",
        )

    def _terms(self, terms: list[str]) -> dict[str, tuple[float, int]]:
        t = self.dict_ds.to_table(
            columns=["term", "idf", "bucket"], filter=ds.field("term").isin(terms)
        ).to_pandas()
        return {r.term: (float(r.idf), int(r.bucket)) for r in t.itertuples()}

    def _blocks(self, found: dict[str, tuple[float, int]]) -> pd.DataFrame:
        buckets = sorted({b for _, b in found.values()})
        pdf = self.seg_ds.to_table(
            filter=ds.field("bucket").isin(buckets) & ds.field("term").isin(sorted(found))
        ).to_pandas()
        m = self.meta
        if m.stream_epochs:
            # the engine's avgdl-robust bound for streamed epochs
            pdf["max_u"] = (pdf["max_tf"] * (m.k1 + 1.0)) / (
                pdf["max_tf"] + m.k1 * (1.0 - m.b + m.b * pdf["min_dl"] / m.avgdl)
            )
        return pdf

    def query(self, text: str, mode: str, k: int) -> dict:
        """Replay one ``search``; returns timings, block counts and top-k."""
        with self.tr.span("query.wand.replay", trace_id=text):
            return self._query(text, mode, k)

    def _query(self, text: str, mode: str, k: int) -> dict:
        terms = sorted(set(tokenize_py(text)))
        t0 = time.perf_counter()
        with self.tr.span("replay.segment_read"):
            found = self._terms(terms)
            empty = not found or (mode == "and" and len(found) < len(terms))
            pdf = None if empty else self._blocks(found)
        read_ms = (time.perf_counter() - t0) * 1e3
        if empty:
            return {"read_ms": read_ms, "kernel_ms": 0.0, "max_group_ms": 0.0,
                    "scanned": 0, "decoded": 0, "topk": []}
        idf = {t: v[0] for t, v in found.items()}
        m = self.meta
        group_ms, parts = [], []
        with _DecodeCounter() as dc:
            for _, g in pdf.groupby("doc_range", sort=True):
                g = g.reset_index(drop=True)
                t1 = time.perf_counter()
                with self.tr.span("query.wand.score_group_wand"):
                    parts.append(wand.score_group_wand(
                        g, idf, m.k1, m.b, m.avgdl, k, mode, len(idf), self.mask
                    ))
                group_ms.append((time.perf_counter() - t1) * 1e3)
        res = pd.concat(parts) if parts else pd.DataFrame(columns=["doc_id", "score"])
        res = res.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
        return {
            "read_ms": read_ms,
            "kernel_ms": sum(group_ms),
            "max_group_ms": max(group_ms, default=0.0),
            "scanned": len(pdf),
            "decoded": dc.calls,
            "topk": list(zip(res["doc_id"].astype(int), res["score"].astype(float))),
        }

    def batch(self, queries: dict[str, str], k: int) -> float:
        """Replay one ``search_batch`` (OR, exhaustive); returns kernel ms."""
        terms = sorted({t for q in queries.values() for t in tokenize_py(q)})
        found = self._terms(terms)
        if not found:
            return 0.0
        pdf = self._blocks(found)
        idfs = {
            qid: {t: found[t][0] for t in tokenize_py(q) if t in found}
            for qid, q in queries.items()
        }
        m = self.meta
        total = 0.0
        for _, g in pdf.groupby("doc_range", sort=True):
            g = g.reset_index(drop=True)
            t1 = time.perf_counter()
            with self.tr.span("query.wand.score_group_multi", trace_id="batch"):
                wand.score_group_multi(g, idfs, m.k1, m.b, m.avgdl, k, mask=self.mask)
            total += (time.perf_counter() - t1) * 1e3
        return total
