"""Kernel-level views shared by the WAND test suites: the reference
(term, shard) packer, the doc tables it codes over, and the hits-only
view of the shard kernel."""

import numpy as np
import pandas as pd

from searchengine_spark.index.segments import _pack_arrays, doc_tables
from searchengine_spark.index.wand import wand_shard


def doc_table(*groups, run_id: int = 0) -> pd.DataFrame:
    """The doc-table rows (shard, run_id, doc_id, doclen, tlen) of
    (term, shard) posting groups of one (run, shard): one row per doc.
    A doc's length and title length must agree across the groups."""
    g = pd.concat(groups, ignore_index=True)
    rows = pd.DataFrame({
        "shard": g["shard"].astype(np.int32),
        "run_id": np.int32(run_id),
        "doc_id": g["doc_id"].astype(np.int64),
        "doclen": g["doclen"].astype(np.int64),
        "tlen": (g["tlen"] if "tlen" in g.columns else 0),
    }).astype({"tlen": np.int64}).drop_duplicates()
    assert rows["doc_id"].is_unique, "a doc's lengths differ between groups"
    return rows.sort_values("doc_id").reset_index(drop=True)


def tables_of(*docs: pd.DataFrame) -> dict:
    """Doc-table rows of ONE shard (any runs) → its tables by run, as a
    kernel takes them."""
    tables = doc_tables(pd.concat(docs, ignore_index=True))
    return next(iter(tables.values()), {})


def _pack_group(pdf: pd.DataFrame, n_docs: int, avgdl: float, run_id: int,
                avgtl: float = 0.0, docs: pd.DataFrame | None = None):
    """One (term, shard) group of (doc_id, tf, doclen, df[, ttf, tlen])
    → (its packed segment row as a one-row frame, the doc-table rows it
    is coded over): the reference packer the kernel tests build
    segments with and compare the bulk pack (pack_segments_frame)
    against. `docs` is the (run, shard)'s table when several groups
    share it (doc_table), else the group's own docs. ttf/tlen
    (title-field tf and title length, absent → zeros) feed the
    per-field TF layer that serves BM25F."""
    if docs is None:
        docs = doc_table(pdf, run_id=run_id)
    ttfs = (pdf["ttf"].to_numpy() if "ttf" in pdf.columns
            else np.zeros(len(pdf), dtype=np.int64))
    row = _pack_arrays(
        pdf["term"].iloc[0], int(pdf["shard"].iloc[0]),
        pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(), ttfs,
        tables_of(docs)[run_id], int(pdf["df"].iloc[0]), n_docs, avgdl,
        run_id, avgtl,
    )
    return pd.DataFrame([row]), docs


def pack_groups(groups, n_docs: int, avgdl: float, run_id: int = 0,
                avgtl: float = 0.0):
    """Several (term, shard) groups of one (run, shard) → (their packed
    rows, the shard's doc tables by run) — the two inputs of
    index/wand.wand_shard."""
    docs = doc_table(*groups, run_id=run_id)
    pdf = pd.concat(
        [_pack_group(g, n_docs, avgdl, run_id, avgtl, docs)[0]
         for g in groups],
        ignore_index=True,
    )
    return pdf, tables_of(docs)


def wand_shard_topk(pdf, *args, **kwargs):
    """index/wand.wand_shard's hit rows alone (doc_id, score, n_hit,
    plus site_id under collapse) — the trailer row dropped, so the
    rank-identity suites compare hits against their brute-force
    references directly."""
    out = wand_shard(pdf, *args, **kwargs)
    cols = ["doc_id", "score", "n_hit"]
    if kwargs.get("collapse") is not None:
        cols.append("site_id")
    return out.loc[~out["is_trailer"], cols].reset_index(drop=True)
