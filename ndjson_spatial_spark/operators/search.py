"""Keyword search over a document corpus: TF-IDF / BM25 scoring and
exact top-k retrieval — the retrieval primitive of a training-data
pipeline (query-based corpus curation, eval-set mining, RAG source
selection).

The reference engine (ndjson-spatial) has no search operator; this is a
first-class engine extension in the spirit of its filter/agg pipeline
(ndjson-spatial/src/filter.rs expression semantics: lowercase whitespace
tokens), built Spark-first.

Scale design (the 100 TB shape): the query is a PLAN-TIME constant (a
handful of terms), so per-document term frequencies are computed as a
single narrow Catalyst projection — ``size(filter(tokens, t == term))``
per term — with ZERO shuffle and no inverted index required.  The corpus
statistics BM25 needs (N, avgdl, per-term document frequencies) reduce
to ONE partial-combined global aggregate producing a single row, which
joins back as a broadcast (a 1-row broadcast is free).  The final top-k
is ``orderBy(...).limit(k)`` → Catalyst TakeOrderedAndProject: every
reducer keeps its local k and the driver merges k·P candidates — no
global sort.  Total cost: one scan, whose narrow (tf…, dl) projection
is checkpointed for the stats and scoring passes; no wide exchange
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: Column) -> Column:
    """Lowercase whitespace tokens, empties dropped (matches
    operators/text.word_ngrams semantics so search and n-gram stats agree
    on tokenization)."""
    # array_remove (codegen'd) == F.filter(, != "") (HigherOrderFunction,
    # CodegenFallback interpreted per ELEMENT — the round-4 chunking trap)
    return F.array_remove(F.split(F.lower(F.trim(text_col)), r"\s+"), "")


def bm25_score_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact BM25 top-k for a conjunctive-OR keyword query.

    Per-term weight uses the Robertson/Sparck-Jones BM25+1 idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive, so adding a
    matched term never lowers a score) and the standard saturated tf
    ``tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))``.

    Determinism: ties broken by ``id_col`` ascending, so the result set
    is a pure function of the corpus + query.  Scores are IEEE doubles;
    the returned integer columns (``n_matched``, ``total_tf``, ``dl``,
    ``rank``) are exact, and gates should compare those (score ordering
    is ulp-stable whenever adjacent scores differ by more than ~1e-12
    relative — asserted for the gated corpus in tests).

    Output: ``id_col, rank, score, n_matched, total_tf, dl`` — one row
    per retrieved document, rank 1..k.

    Single scan (round-6): the stats aggregate and the scoring pass both
    consume the tokenized (dl, tf…) projection, which would otherwise
    re-tokenize the corpus once per pass.  The narrow feats frame (id +
    one int per term) is localCheckpoint'd instead — tokenization runs
    exactly ONCE per invocation, the checkpoint is private to this query
    (freed on GC, nothing survives across runs), and both passes read the
    ~40-bytes/doc materialization (measured ~2x on the 200k-doc bench).
    At 100 TB the checkpoint is rows x ~40 B on executor local storage —
    the standard space-for-scan trade.  Streaming inputs (no checkpoint
    on streaming plans) keep the two-pass form.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct")

    toks = _tokens(F.col(text_col))
    # stage tokens ONCE as an attribute (anti-inlining: each per-term
    # filter below references the attribute, not a re-inlined regex split)
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    # term frequency as size(toks) - size(array_remove(toks, w)):
    # array_remove is whole-stage-codegen'd, while the equivalent
    # F.filter(toks, lambda) is a HigherOrderFunction = CodegenFallback
    # interpreted PER ELEMENT (measured 3.5x on the chunking op, round-4;
    # the swap here cut the 200k-doc bench pass correspondingly)
    tf_cols = [
        (F.size("__toks")
         - F.size(F.array_remove(F.col("__toks"), w))).alias(f"__tf_{i}")
        for i, w in enumerate(terms)
    ]
    feats = staged.select(
        id_col, F.size("__toks").alias("__dl"), *tf_cols)
    if not df.isStreaming:
        feats = feats.localCheckpoint()

    # ONE global aggregate -> a single stats row (N, avgdl, df_t per term)
    stats = feats.agg(
        F.count("*").alias("__N"),
        F.sum("__dl").alias("__sumdl"),
        *[F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
          for i in range(len(terms))],
    )
    scored = feats.join(F.broadcast(stats))

    avgdl = F.col("__sumdl") / F.col("__N")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / avgdl
    score: Column = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__N") - F.col(f"__df_{i}") + F.lit(0.5))
            / (F.col(f"__df_{i}") + F.lit(0.5))
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm)

    total_tf = None
    for i in range(len(terms)):
        c = F.col(f"__tf_{i}")
        total_tf = c if total_tf is None else total_tf + c
    n_matched = None
    for i in range(len(terms)):
        c = (F.col(f"__tf_{i}") > 0).cast("int")
        n_matched = c if n_matched is None else n_matched + c

    hits = (
        scored.where(total_tf > 0)
        .select(
            id_col,
            score.alias("score"),
            n_matched.alias("n_matched"),
            total_tf.cast("long").alias("total_tf"),
            F.col("__dl").cast("long").alias("dl"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    # rank over <= k rows (post-limit) — the window is driver-trivial
    return hits.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", "score", "n_matched", "total_tf", "dl")


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    fuse the ranked lists of multiple retrieval systems into one list by
    ``score(d) = Σ_systems 1/(k + rank_s(d))`` — the standard hybrid
    lexical+dense retrieval combiner.  A document absent from a system
    simply contributes nothing (no imputed rank).

    Scale shape: each input is already a top-k list (tiny — k·P rows at
    most), so the union + id-keyed aggregate is a shuffle over O(Σ k)
    rows regardless of corpus size; the final order-by is TakeOrdered.
    Determinism: score ties (symmetric rank sets) break by id; with two
    systems the float sum is order-proof (IEEE addition of two terms is
    commutative), so fused output is a pure function of the input ranks.

    Output: ``id_col, rrf_rank, rrf_score, n_systems, best_rank``,
    rrf_rank 1..topk.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    u = None
    for r in rankings:
        part = r.select(F.col(id_col), F.col(rank_col).alias("__r"))
        u = part if u is None else u.unionByName(part)
    fused = u.groupBy(id_col).agg(
        F.sum(F.lit(1.0) / (F.lit(k) + F.col("__r"))).alias("rrf_score"),
        F.count(F.lit(1)).cast("int").alias("n_systems"),
        F.min("__r").cast("int").alias("best_rank"),
    )
    ordered = fused.orderBy(F.desc("rrf_score"), F.asc(id_col))
    if topk is not None:
        ordered = ordered.limit(topk)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return ordered.withColumn("rrf_rank", F.row_number().over(w)).select(
        id_col, "rrf_rank", "rrf_score", "n_systems", "best_rank")
