"""The corpus path of batch_paths: documents → quality filter → exact
dedup → MinHash-LSH near-dup pairs → connected components (the dedup
cluster table).

The corpus carries a seeded share of planted near-duplicates (a few
token edits of an earlier document) and exact copies, so the output's
recall and precision against the planted truth are measured too.
"""

from __future__ import annotations

import os
import re

from common import Checks, median, now
import gen

THRESHOLD = 0.5  # minhash_lsh_dedup's default Jaccard threshold
SHINGLE = 3
# floors on quality against the planted truth: both sit near 0.98 and
# 1.0 on every seed tried, so a drop below is a regression, not noise
MIN_RECALL = 0.9
MIN_PRECISION = 0.99


def sizes(smoke: bool) -> dict:
    if smoke:
        return {"docs": 1_500, "warmup_docs": 1_000}
    return {"docs": 2_000, "warmup_docs": 200}


class Corpus:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sz = sizes(ctx.smoke)
        self.root = os.path.join(ctx.work, "corpus")

    def generate(self) -> None:
        self.docs, self.source_of = gen.corpus(self.ctx.seed, self.sz["docs"])
        gen.write_corpus(os.path.join(self.root, "data", "docs.parquet"), self.docs)
        warm, _ = gen.corpus(self.ctx.seed + 1_000_003, self.sz["warmup_docs"])
        gen.write_corpus(os.path.join(self.root, "warm", "docs.parquet"), warm)

    def _near_dups(self, spark, name: str):
        """quality_filter → exact_dedup → minhash_lsh_dedup over one
        corpus; returns (kept, unique, pairs, seconds in minhash)."""
        from pyspark.sql import functions as F

        from financial_market_data_analysis_spark.functions.text import quality_filter
        from financial_market_data_analysis_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_dedup,
        )

        tr = self.ctx.tracer
        docs = spark.read.parquet(os.path.join(self.root, name, "docs.parquet"))
        with tr.span("functions.text.quality_filter"):
            kept = (quality_filter(docs).filter(F.col("kept") == 1)
                    .select("doc_id", "text").localCheckpoint())
        with tr.span("operators.dedup.exact_dedup"):
            keepers = exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
            unique = kept.join(keepers, "doc_id", "left_semi").localCheckpoint()
        t = now()
        with tr.span("operators.dedup.minhash_lsh_dedup"):
            pairs = minhash_lsh_dedup(unique)
        return kept, unique, pairs, now() - t

    def warm_up(self, spark) -> None:
        # connected_components is left out: its cost is per-iteration job
        # overhead, about the same cold as warm, and the warm-up's time
        # is every run's time
        self._near_dups(spark, "warm")

    def one_pass(self, spark) -> dict:
        from pyspark.sql import functions as F

        from financial_market_data_analysis_spark.operators.dedup import connected_components

        out = os.path.join(self.root, "data_out")
        t0 = now()
        kept, unique, pairs, minhash_s = self._near_dups(spark, "data")
        t2 = now()
        with self.ctx.tracer.span("operators.dedup.connected_components"):
            clusters = connected_components(
                pairs.select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")))
            clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
        t3 = now()
        # kept outside the timed region: the check reads these back
        pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        kept.select("doc_id").write.mode("overwrite").parquet(os.path.join(out, "kept"))
        unique.select("doc_id").write.mode("overwrite").parquet(os.path.join(out, "unique"))
        return {"total_s": t3 - t0, "minhash_s": minhash_s, "cc_s": t3 - t2}


# -- plain-Python references for the output checks ----------------------------

_TOKEN = re.compile(r"[a-z0-9]+")
_PUNCT = re.compile(r"[.,!?;:]")
_STOP = {"the", "a", "and", "of", "to", "in", "is"}


def py_kept(text: str) -> bool:
    """functions.text.quality_filter's four rules, recomputed."""
    toks = _TOKEN.findall(text.lower())
    if len(toks) < 20:
        return False
    stop = sum(t in _STOP for t in toks) / len(toks)
    mean_len = sum(len(t) for t in toks) / len(toks)
    punct = len(_PUNCT.findall(text)) / len(text)
    return stop >= 0.02 and mean_len <= 8.0 and punct <= 0.1


def shingles(text: str) -> set[str]:
    toks = _TOKEN.findall(text.lower())
    return {" ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}


def components(edges) -> dict[int, int]:
    """Union-find: node -> smallest node id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_and_report(w, spark):
    """Output checks over the last pass's outputs against plain-Python
    recomputations and the planted truth (outside the timed region)."""
    chk = Checks()
    out = os.path.join(w.root, "data_out")
    text = dict(w.docs)
    kept = {r.doc_id for r in spark.read.parquet(os.path.join(out, "kept")).collect()}
    unique = {r.doc_id for r in spark.read.parquet(os.path.join(out, "unique")).collect()}
    pairs = [(r.doc_a, r.doc_b, r.jaccard)
             for r in spark.read.parquet(os.path.join(out, "pairs")).collect()]
    clusters = {r.doc_id: r.cluster_id
                for r in spark.read.parquet(os.path.join(out, "clusters")).collect()}

    want_kept = {d for d, t in w.docs if py_kept(t)}
    chk.count(len(w.docs), len(kept ^ want_kept), "quality_filter kept set differs")
    first_of: dict[str, int] = {}
    for d in sorted(want_kept):
        first_of.setdefault(text[d], d)
    want_unique = set(first_of.values())
    chk.count(len(want_kept), len(unique ^ want_unique), "exact_dedup keepers differ")

    bad = 0
    for a, b, jac in pairs:
        sa, sb = shingles(text[a]), shingles(text[b])
        j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        bad += not (j >= THRESHOLD and abs(j - jac) <= 1e-9)
    chk.count(max(len(pairs), 1), bad, "pairs below the Jaccard threshold")
    want_cc = components((a, b) for a, b, _ in pairs)
    chk.count(max(len(want_cc), 1),
              sum(clusters.get(n) != c for n, c in want_cc.items()) + len(set(clusters) - set(want_cc)),
              "clusters differ from the pairs' connected components")

    # quality against the planted truth
    def root(d):
        return w.source_of.get(d, d)

    planted = [(d, s) for d, s in w.source_of.items()
               if d in unique and s in unique and text[d] != text[s]]
    found = sum(d in clusters and clusters.get(d) == clusters.get(s) for d, s in planted)
    good_pairs = sum(root(a) == root(b) for a, b, _ in pairs)
    exact_copies = len(kept) - len(unique)
    recall = found / len(planted) if planted else 0.0
    precision = good_pairs / len(pairs) if pairs else 0.0
    chk.check(recall >= MIN_RECALL, f"recall {recall:.4f} < {MIN_RECALL}")
    chk.check(precision >= MIN_PRECISION, f"precision {precision:.4f} < {MIN_PRECISION}")

    totals = [p["total_s"] for p in w.passes]
    layer = {
        "operators.dedup.minhash_lsh_dedup_s": median([p["minhash_s"] for p in w.passes]),
        "operators.dedup.connected_components_s": median([p["cc_s"] for p in w.passes]),
        "operators.dedup.pairs": float(len(pairs)),
        "operators.dedup.exact_dup_ratio": exact_copies / len(kept) if kept else 0.0,
        "operators.dedup.recall": recall,
        "operators.dedup.precision": precision,
        "functions.text.kept_ratio": len(kept) / len(w.docs),
    }
    detail = {"passes": len(totals), "pass_s": totals, "pairs": len(pairs),
              "planted": len(planted), "recall": recall, "precision": precision}
    return chk, layer, detail
