"""End-to-end training-corpus selection — the composed pipeline.

Every stage here exists (and is independently oracle-gated) as its own
operator; this module is the composition a practitioner actually runs:

    quality gate -> decontamination -> near-dup canonicalization
                 -> token-budgeted mixture sample

with the cleaned corpus (gates + decontamination) LANDED exactly once
before the dedup and budget stages (which scan it 6+ times between
them), and every stage keeping its own documented 100 TB plan shape.
A fully-lazy single-plan mode is kept (``materialize=False``) and
tested selection-identical.

The quality gate is deliberately INTEGER-exact (token count >= min,
punct*100 <= chars*max_pct as a cross-multiplication) rather than a
float score threshold: a float gate is one ulp away from
engine-divergent selection at the boundary, an integer gate never is —
which is what lets q:pipeline_select verify the WHOLE pipeline against
a single DuckDB CTE chain, bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import duplicate_losers, minhash_dup_pairs
from .sampling import (
    _n_tokens_col,
    decontaminate,
    decontaminate_ngrams,
    token_budget_sample,
)


def prepare_training_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    budgets: dict | None = None,
    *,
    min_tokens: int = 20,
    max_punct_pct: int = 30,
    threshold: float = 0.8,
    default_budget: int = 0,
    ngram_benchmark: DataFrame | None = None,
    ngram_n: int = 13,
    id_col: str = "doc_id",
    domain_col: str = "lang",
    stage_dir: str | None = None,
    materialize: bool = True,
) -> DataFrame:
    """(doc_id, domain, n_tokens, cum_tokens): the training selection.

    Stages (each one the already-gated operator, same expressions):

    1. QUALITY GATE — keep docs with ``n_tokens >= min_tokens`` and
       ``n_punct * 100 <= n_chars * max_punct_pct`` (integer
       cross-multiplication; NULL text fails the gate in both engines).
    2. DECONTAMINATION — ``sampling.decontaminate`` (exact normalized-
       fingerprint anti-join) when ``benchmark`` is given, then
       ``decontaminate_ngrams`` when ``ngram_benchmark`` is given
       (mid-document n-gram overlap).
    3. NEAR-DUP CANONICALIZATION — ``minhash_dup_pairs`` at
       ``threshold`` over the surviving docs; the cluster keeper is the
       longest text (ties -> lowest id), enforced by anti-joining the
       ``duplicate_losers`` complement (same winner rule as
       ``canonicalize_duplicates``, pinned equal by test).
    4. MIXTURE SAMPLE — ``token_budget_sample`` per ``domain_col``
       against ``budgets`` (maximal per-domain prefix in (md5(id), id)
       order).

    Scale: the gates are pure column predicates pushed into every scan;
    stages 2-4 keep their own documented 100 TB shapes (broadcast
    benchmark dims, signatures-only shuffles + candidates-only verify,
    winner aggregate over pair-involved docs, bucketed prefix sum).
    Composition adds NO new shuffle — the only cross-stage data motion
    is the duplicate-drop, a BROADCAST left-anti join against
    ``duplicate_losers`` (pair-involved docs that lost their cluster —
    duplicate-count sized, never the corpus-sized keeper set).

    Whole-pipeline gate: q:pipeline_select runs this against one DuckDB
    CTE chain composed of the stages' own proven oracle fragments."""
    # scale-adaptive spread (guide §2): a small single-file corpus
    # arrives as ONE split, and everything through the landed stage —
    # the regex gates, fingerprint normalization, the checkpoint, and
    # every downstream scan of it — inherits that single partition
    # (measured: the gate+decontaminate stage alone was ~5 s on one
    # core at sf1.0, ~1 s spread).  A bare repartition is NOT enough:
    # Catalyst pushes the deterministic gate filter BELOW the exchange,
    # so the regex would still evaluate pre-shuffle on one core — the
    # repartitioned raw corpus is therefore MATERIALIZED (an optimizer
    # barrier filters cannot cross) and its blocks released the moment
    # the cleaned corpus lands.  Only in the materializing modes (the
    # fully-lazy materialize=False contract stays a single pure plan)
    # and only when under-partitioned — at warehouse scale the input
    # has many splits and none of this fires.
    _spread = None
    par = docs.sparkSession.sparkContext.defaultParallelism
    if (
        (materialize or stage_dir is not None)
        and docs.rdd.getNumPartitions() < par
    ):
        # persist, not localCheckpoint: the cache is COLUMNAR
        # (InMemoryRelation), and re-scanning it is ~10x faster than a
        # checkpoint's row-format blocks (measured 0.14 s vs 1.8 s per
        # corpus pass at sf1.0) — the barrier property (filters cannot
        # push below the cached subtree's partitioning) is the same
        docs = docs.repartition(par).persist()
        _spread = docs
    n_chars = F.length("text")
    n_punct = F.regexp_count("text", F.lit("[^a-zA-Z0-9\\s]"))
    if "__pt_ntok" in docs.columns:
        raise ValueError(
            "prepare_training_corpus: input already has column __pt_ntok"
        )
    # evaluate the (regex-heavy) token count ONCE, inside the gate scan,
    # and LAND it with the cleaned corpus: the budget stage reuses the
    # landed integers instead of re-tokenizing the whole corpus
    docs = docs.withColumn("__pt_ntok", _n_tokens_col())
    gate = (F.col("__pt_ntok") >= F.lit(min_tokens)) & (
        n_punct * F.lit(100) <= n_chars * F.lit(max_punct_pct)
    )
    d = docs.where(gate)
    if benchmark is not None:
        d = decontaminate(d, benchmark)
    if ngram_benchmark is not None:
        d = decontaminate_ngrams(d, ngram_benchmark, n=ngram_n, id_col=id_col)

    # Land the cleaned corpus ONCE: the dedup and budget stages scan it
    # 6+ times between them, and re-deriving it re-runs the regex gates
    # and fingerprint normalization per scan — regex throughput is well
    # below parquet scan throughput, so at 100 TB the write pays for
    # itself from the second downstream scan.  ``stage_dir`` is that
    # shape (a real pipeline lands each stage to a table);
    # ``materialize=True`` is the local-session analogue
    # (localCheckpoint); ``materialize=False`` keeps the fully-lazy
    # single plan — selection semantics are identical in all three
    # modes (tested).
    if stage_dir is not None:
        d.write.mode("overwrite").parquet(stage_dir)
        d = docs.sparkSession.read.parquet(stage_dir)
    elif materialize:
        # columnar persist + one materializing action, not an eager
        # localCheckpoint: the dedup and budget stages re-scan this
        # frame 5+ times, and each checkpoint re-scan paid the
        # row-format deserialization tax (the dominant cost of the
        # whole pipeline at sf1.0 — ~1.8 s per pass)
        d = d.persist()
        d.count()
    if _spread is not None:
        # the landed stage supersedes the raw spread copy — free its
        # blocks now instead of waiting for driver GC
        _spread.unpersist(False)

    if "_len_score" in d.columns:
        raise ValueError(
            "prepare_training_corpus: input already has column _len_score"
        )
    scored = d.withColumn("_len_score", n_chars)
    pairs = minhash_dup_pairs(d, threshold=threshold)
    # drop LOSERS (the tiny duplicate-count-sized frame), never
    # semi-join KEEPERS (nearly the whole corpus — that shape shuffles
    # the corpus against itself, twice once the budget stage's two
    # branches each rescan it); the anti side broadcasts
    losers = duplicate_losers(scored, pairs, score_col="_len_score", id_col=id_col)
    kept = d.join(F.broadcast(losers), id_col, "left_anti")
    return token_budget_sample(
        kept,
        budgets,
        default_budget=default_budget,
        domain_col=domain_col,
        id_col=id_col,
        n_tokens_col="__pt_ntok",
    )


def mix_report(docs: DataFrame, dims: tuple = ("lang", "source")) -> DataFrame:
    """The corpus-mixture report: doc and character totals per
    (lang, source) WITH every ROLLUP subtotal level — per-lang totals
    and the grand total arrive in the same single-pass aggregation a
    mixture dashboard wants (rolled-up levels carry NULL in the
    collapsed dimension, the standard SQL contract).  ``level`` is the
    grouping bitmask (Spark ``grouping_id`` ≡ SQL ``GROUPING(dims...)``:
    0 = leaf, bit set = that dim rolled up), which keeps subtotal rows
    unambiguous even when a dimension holds REAL NULL values.

    Aggregates stay INTEGER (counts and n_chars sums) so the report is
    engine-exact.  Plan shape at 100 TB: rollup expands each row to
    len(dims)+1 grouping sets BEFORE the partial aggregate, so the
    exchange still carries only group-count rows (groups × levels —
    tiny), all map-side combined; the corpus is scanned once."""
    for d in dims:
        if d not in docs.columns:
            raise ValueError(f"mix_report: no column {d} in input")
    return docs.rollup(*dims).agg(
        F.grouping_id().cast("int").alias("level"),
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def profile_corpus(docs: DataFrame, approx: bool = False) -> DataFrame:
    """One-row corpus health report from ONE scan and ONE global
    aggregate: row/NULL/empty counts, exact duplicate-text count,
    distinct languages, and character-length extremes+total — the
    numbers a pipeline checks before and after every stage ("did the
    dedup actually shrink dup_docs to 0? did a loader start emitting
    empty texts?").

    Everything is INTEGER (counts and sums) so the report is
    engine-exact.  ``dup_docs`` = rows minus distinct md5(text) over
    non-NULL texts — the same definition ``exact_dup_groups`` groups
    by, so the two operators can never disagree.

    Plan shape at 100 TB: global aggregate = map-side partials (a few
    longs per task) into ONE reducer row; count(DISTINCT md5) rewrites
    to a two-stage expand-aggregate (the standard Spark plan) whose
    exchange carries one 16-byte hash per distinct text — the only
    non-constant motion, and the price of an EXACT dup count.

    ``approx=True`` makes that trade: dup_docs and n_langs switch to
    ``approx_count_distinct`` (HyperLogLog++, default rsd 5%), turning
    the distinct-count expand-aggregate into constant-size sketch
    partials — the WHOLE report becomes one constant-motion aggregate,
    the shape to run hourly over 100 TB.  Approx figures are estimates
    (tolerance pinned by test); every other column stays exact."""
    t = F.col("text")
    cd = (
        (lambda c: F.approx_count_distinct(c))
        if approx
        else (lambda c: F.countDistinct(c))
    )
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(t.isNull().cast("long")).alias("null_text"),
        F.sum((t.isNotNull() & (F.trim(t) == "")).cast("long")).alias("empty_text"),
        (
            F.count(t) - cd(F.md5(t))
        ).alias("dup_docs"),
        cd(F.col("lang")).alias("n_langs"),
        F.min(F.length(t)).alias("min_chars"),
        F.max(F.length(t)).alias("max_chars"),
        F.sum(F.coalesce(F.length(t), F.lit(0))).alias("total_chars"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, status): per-document reconciliation of two corpus
    snapshots — status ∈ added | removed | changed | unchanged — the
    "what did this pipeline run actually change" check run between any
    two landed versions before promoting one.

    Semantics: keyed on ``id_col`` (full outer join); content equality
    is NULL-SAFE md5-of-text equality (``<=>``), so a NULL→NULL text is
    unchanged and NULL→'x' is changed — DuckDB's IS NOT DISTINCT FROM
    reproduces it exactly (q:snapshot_diff).

    Scale: each side is scanned once projected to (id, 16-byte hash) —
    text never moves; the full-outer hash join shuffles ~24 B/row per
    side.  Snapshots landed bucketed by id keep the join co-located;
    AQE handles the rest.
    The summary a dashboard wants is ``groupBy("status").count()`` on
    this output — map-side combined, four rows."""
    o = old.select(
        F.col(id_col).alias("__id"), F.md5(text_col).alias("__old_h")
    )
    n = new.select(
        F.col(id_col).alias("__id"), F.md5(text_col).alias("__new_h")
    )
    # presence flags, not hash NULLness: a present row with NULL text
    # also has a NULL hash and must not read as absent
    o = o.withColumn("__old_p", F.lit(True))
    n = n.withColumn("__new_p", F.lit(True))
    j = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__old_p").isNull(), F.lit("added"))
        .when(F.col("__new_p").isNull(), F.lit("removed"))
        .when(F.col("__old_h").eqNullSafe(F.col("__new_h")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("__id").alias(id_col), status.alias("status"))
