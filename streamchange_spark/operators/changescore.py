"""Inter-snapshot change scores: the third page-metric series of the brief.

The north star names three per-URL page-metric series — crawl frequency,
text length, and CHANGE SCORES. The first two fall out of the rollup tiers
(n_points, sum_v over text_len); this module supplies the third: how much
did a page's text change between consecutive crawls of the same url?

Two signals per (url, warc_ts) snapshot, both computed against the
PREVIOUS snapshot of the same url:

- ``changed``: byte-identity break — md5(text) differs from the previous
  snapshot's (the same text-identity invariant the ingest manifest keys
  on, sources/pages.text_manifest). NULL on each url's first snapshot.
- ``jaccard_est`` / ``change_score``: graded similarity — the fraction of
  agreeing minhash components between the two snapshots' signatures
  (P[min-hash agree] = shingle-set Jaccard, so the match fraction is the
  standard unbiased Jaccard estimator, RSE ~ 1/sqrt(k)), and
  ``change_score = 1 - jaccard_est`` (0 for unchanged pages by
  construction: identical text => identical signature). NULL when either
  side has no signature (text shorter than one shingle) or no predecessor.

The output is exactly the series the detectors consume:
``window_segmentor_changepoints(scores, key_cols=["url"],
ts_col="warc_ts", value_cols=["change_score"])`` flags urls whose churn
regime shifts — template changes, domain takeovers, content rot.

Scale shape: one text pass (the row-local shingler — no token shuffle,
dedup.shingle_rows_local) feeding a map-side partial-min aggregate (k
longs per snapshot on the wire, dedup.minhash_signatures), one id-level
join back to the row metadata, then a single (url)-partitioned window for
all lag columns — the same one exchange the per-url detector scan needs
anyway, so at 100 TB this is shuffle-equivalent to the plain text_len
series plus the signature aggregate. All JVM except the shingler's Arrow
pass; md5-based hashes keep every value reproducible in DuckDB (the
driver oracle is hash-exact including the estimates).

The reference has no page-diff operator (its series are simulated,
/root/reference/streamchange/utils/simulate.py); this series feeds its
detectors per the north-star composition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._sql import ident, over
from .dedup import minhash_signatures

__all__ = [
    "snapshot_change_scores",
    "snapshot_signatures",
    "change_scores_from_signatures",
]

#: Row-id separator for the composite (url, ts) surrogate — \x01 cannot
#: appear in a url and keeps the concat injective.
_SEP = "\x01"


def snapshot_signatures(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_size: int = 3,
    hash_fn: str = "md5",
    shingler: str = "local",
) -> DataFrame:
    """The expensive text pass, split out so pipelines can materialize it
    incrementally (e.g. one partition per crawl day — pipeline.py commits
    ``sig/{day}``): (url, ts, text_len, text_md5, mh_0..mh_{k-1}) per
    snapshot. Signatures depend only on the row's own text, so per-day
    partials concatenate into the same table a global pass would produce;
    :func:`change_scores_from_signatures` then scores the FULL series from
    k+2 small columns per snapshot without ever re-reading text."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    rid = F.concat_ws(
        _SEP, F.col(url_col).cast("string"), F.col(ts_col).cast("string")
    )
    src = pages.select(
        F.col(url_col),
        F.col(ts_col),
        rid.alias("_rid"),
        F.col(text_col).alias("_text"),
        F.md5(F.col(text_col).cast("binary")).alias("text_md5"),
        F.length(text_col).cast("long").alias("text_len"),
    )
    sig = minhash_signatures(
        src, "_rid", "_text", num_hashes, shingle_size, hash_fn, shingler
    )
    return src.drop("_text").join(sig, "_rid", "left").drop("_rid")


def change_scores_from_signatures(
    sig_df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    num_hashes: int = 16,
) -> DataFrame:
    """Score assembly over a (possibly incrementally materialized)
    signature table: one (url)-partitioned window computes every lag —
    the same single exchange the per-url detector scan needs anyway."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    w = over([url_col], ident(ts_col))
    prev_md5 = f"lag(text_md5) {w}"
    changed = f"(CASE WHEN {prev_md5} IS NOT NULL THEN text_md5 != {prev_md5} END)"
    matches = " + ".join(
        f"CASE WHEN mh_{i} = lag(mh_{i}) {w} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    jaccard_est = (
        f"(CASE WHEN mh_0 IS NOT NULL AND lag(mh_0) {w} IS NOT NULL "
        f"THEN CAST({matches} AS DOUBLE) / {float(num_hashes)!r}D END)"
    )
    change_score = (
        f"CASE WHEN {changed} IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN NOT {changed} THEN 0.0D ELSE 1.0D - {jaccard_est} END"
    )
    return sig_df.selectExpr(
        ident(url_col),
        ident(ts_col),
        "text_len",
        f"{changed} AS changed",
        f"{jaccard_est} AS jaccard_est",
        f"{change_score} AS change_score",
    )


def snapshot_change_scores(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_size: int = 3,
    hash_fn: str = "md5",
    shingler: str = "local",
) -> DataFrame:
    """(url, ts, text_len, changed, jaccard_est, change_score) per
    snapshot — see module docstring for the semantics of each column.
    ``ts_col`` only needs to be orderable (timestamp, long, ...); rows are
    compared to the previous snapshot of the same ``url_col`` in
    ``ts_col`` order. Composition of :func:`snapshot_signatures` (the
    text pass) and :func:`change_scores_from_signatures` (the window)."""
    sig = snapshot_signatures(
        pages, url_col, ts_col, text_col, num_hashes, shingle_size,
        hash_fn, shingler,
    )
    return change_scores_from_signatures(sig, url_col, ts_col, num_hashes)
