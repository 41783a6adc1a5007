"""Kernel-level views shared by the WAND test suites."""

from searchengine_spark.index.wand import wand_shard


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
