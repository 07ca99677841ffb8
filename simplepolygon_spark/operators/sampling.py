"""Sampling + curriculum operators for training-data pipelines.

  stratified_sample — EXACT n-per-stratum deterministic sample: rank
      rows inside each stratum by a portable hash order (md5 of the id,
      so the DuckDB oracle reproduces it bit-for-bit) and keep the
      first n.  One shuffle on the stratum key; a giant stratum is a
      skew risk, so the scale variant below trades exactness for a
      single scan.
  approx_stratified — Spark's sampleBy (per-stratum Bernoulli): no
      window, no skew, not exact — the 100 TB default when "about 1%
      per language" is the actual requirement.
  pack_sequences    — greedy sequence packing: assign docs (in a
      deterministic order) to fixed-token-budget bins by running token
      cumsum; the bin id and intra-bin offset are pure window
      arithmetic.  The classic "fill 8k-token context windows" step.
  decontaminate     — drop training docs whose normalized fingerprint
      appears in a benchmark set (left_anti on the fingerprint) — the
      train/test-overlap removal step; the benchmark side is tiny and
      broadcast.
  decontaminate_ngrams — drop training docs sharing ANY normalized word
      n-gram (default 13) with the benchmark set — the standard
      overlap rule for contamination that arrives EMBEDDED in a larger
      page, which whole-document fingerprinting misses.  Benchmark
      n-grams broadcast; the train side explodes into a broadcast
      semi-join (no gram shuffle).
  leakage_safe_split — deterministic train/eval/... assignment keyed
      on the doc's NEAR-DUP CLUSTER (not the doc), so near-duplicates
      never straddle a split boundary — the leakage-safe version of
      the hash split every training pipeline ends with.
  shuffle_shards    — deterministic global corpus shuffle + shard
      assignment (the "shuffle before training" export step): every
      doc gets a seeded md5 shuffle key, a hash shard, and its ordinal
      position within the shard — re-runs and engines agree
      bit-for-bit, and the shard writer's sort is the only shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint_col


def stratified_sample(
    df: DataFrame, strata_col: str, n_per_stratum: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exact, deterministic n-per-stratum sample (md5-order ranking).

    Skew hardening: a first window keyed on (stratum, physical
    partition id) keeps only the LOCAL top-n per stratum per input
    split, so the global per-stratum window — the hot reducer when one
    stratum holds most of the corpus — receives at most
    n × num_input_partitions rows per stratum instead of the whole
    stratum.  The local pass shuffles on the salted key (stratum, pid),
    spreading a giant stratum across reducers; correctness is unchanged
    because the global top-n is always contained in the union of local
    top-ns (the md5 order is a total order independent of placement)."""
    # every helper column is __strat_-prefixed and clash-checked — a
    # user column named "rn" must survive untouched
    pid, lrn, grn = "__strat_pid", "__strat_lrn", "__strat_rn"
    clash = [c for c in (pid, lrn, grn) if c in df.columns]
    if clash:
        raise ValueError(f"stratified_sample: input already has column(s) {clash}")
    order = F.md5(F.col(id_col).cast("string"))
    local_w = Window.partitionBy(strata_col, pid).orderBy(order, id_col)
    pruned = (
        df.withColumn(pid, F.spark_partition_id())
        .withColumn(lrn, F.row_number().over(local_w))
        .where(F.col(lrn) <= n_per_stratum)
        .drop(pid, lrn)
    )
    w = Window.partitionBy(strata_col).orderBy(order, id_col)
    return (
        pruned.withColumn(grn, F.row_number().over(w))
        .where(F.col(grn) <= n_per_stratum)
        .drop(grn)
    )


def approx_stratified(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 13
) -> DataFrame:
    """Per-stratum Bernoulli sample — single scan, no shuffle, not
    exact; the skew-immune scale path."""
    return df.sampleBy(strata_col, fractions, seed)


def _n_tokens_col():
    """Whitespace token count; a NULL, empty, or whitespace-only text is
    0 tokens.  ``regexp_replace`` trims ALL whitespace (``F.trim``
    strips only spaces, so a '\\t'-only text would still count phantom
    tokens), and the NULL branch is explicit (``size(split(NULL))`` is
    -1 under default sizeOfNull, which would make prefix sums
    DECREASE)."""
    t = F.regexp_replace(F.col("text"), r"^\s+|\s+$", "")
    return F.when(t.isNull() | (t == ""), F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def pack_sequences(
    docs: DataFrame, window_tokens: int = 1024, id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_tokens, bin_id, bin_offset): greedy contiguous packing of
    whitespace token counts into ``window_tokens``-sized bins, docs
    taken in ``id_col`` order.

    bin_id = floor(exclusive-prefix-sum / window): a doc may straddle a
    boundary (real packers split or pad there; the assignment contract
    is the deterministic part worth verifying).  SINGLE GLOBAL WINDOW —
    an all-rows one-partition sort, fine as the small-scale oracle
    shape but a scale-killer on a big corpus: use
    ``pack_sequences_sharded`` there."""
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select(id_col, _n_tokens_col().alias("n_tokens"))
        .withColumn("bin_id", (prefix / window_tokens).cast("long"))
        .withColumn("bin_offset", (prefix % window_tokens).cast("long"))
    )


def pack_sequences_sharded(
    docs: DataFrame,
    window_tokens: int = 1024,
    shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, shard, bin_id, bin_offset): the 100 TB form of
    ``pack_sequences`` — docs are first assigned a deterministic shard
    (id mod shards; stable across runs and cluster sizes, and trivially
    reproducible in ANSI SQL for the oracle), then packed GREEDILY
    WITHIN each shard by the same exclusive-prefix-sum expression over
    ``Window.partitionBy(shard)``.  Bin ids are globally unique via
    (shard, local_bin) → shard * 2^32 + local_bin.

    Plan shape: ONE hash exchange on the shard key and per-shard sorts
    — no single-partition global sort anywhere (asserted by
    tests/test_pack_sharded plan check).  Each shard's packing is
    independent, so executors stream shards in parallel; the contract
    intentionally differs from the global form only in bin membership
    (each bin holds docs of one shard), never in per-doc token counts."""
    shard = F.pmod(F.col(id_col), F.lit(shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    local_bin = (prefix / window_tokens).cast("long")
    return (
        docs.select(id_col, _n_tokens_col().alias("n_tokens"), shard.alias("shard"))
        .withColumn("bin_id", F.col("shard").cast("long") * F.lit(1 << 32) + local_bin)
        .withColumn("bin_offset", (prefix % window_tokens).cast("long"))
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: dict | None = None,
    default_budget: int = 0,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """(id, domain, n_tokens, cum_tokens): the deterministic
    token-budgeted mixture sample — per domain, take docs in
    ``(md5(id), id)`` order until the domain's token budget is filled
    (the maximal prefix whose every inclusive running sum is ≤ budget;
    the first overflowing doc and everything after it are excluded).
    This is how training mixtures are drawn against a token target
    ("20 B tokens of lang=de, 5 B of code"): deterministic — the same
    corpus always yields the same sample, on any cluster size — and
    exactly reproducible in ANSI SQL (one window cumsum), unlike
    seeded Bernoulli sampling.  ``budgets`` maps domain value → token
    budget; absent domains fall back to ``default_budget`` (0 = drop).

    SHAPE — a distributed prefix sum, not one window per domain (a
    domain holding most of the corpus would serialize into a single
    reducer):

      1. bucket = an ORDER-PRESERVING md5-prefix range (first byte
         scaled to ``n_buckets``), so sorting by (bucket, md5, id)
         IS sorting by (md5, id);
      2. per-(domain, bucket) token subtotals — map-side combined,
         domains × buckets tiny rows out;
      3. exclusive prefix over the subtotals per domain (a window on
         the TINY frame) = each bucket's starting offset;
      4. offsets broadcast back; per-(domain, bucket) local running
         sum + offset = the exact global running sum — the hot domain
         is spread across ``n_buckets`` reducers.

    The corpus shuffles ONCE (the local window's (domain, bucket)
    exchange); the subtotal aggregate moves only partials.  Token
    counts are exact integers (``_n_tokens_col``), so cross-engine
    equality is bit-exact.  Bucket-count invariance (n_buckets=1 ≡
    256) is pinned by test.

    ``n_tokens_col``: name of a PRECOMPUTED whitespace-token-count
    column to use instead of deriving ``_n_tokens_col()`` from
    ``text`` — a caller that already evaluated the (regex-heavy) count
    upstream and landed it skips a full re-tokenization scan here.  The
    column must hold exactly ``_n_tokens_col()``'s integers or the
    sample diverges from the documented contract."""
    if budgets is None:
        budgets = {}
    helpers = ("__tb_h", "__tb_b", "__tb_s", "__tb_off")
    clash = [c for c in helpers if c in docs.columns]
    if clash:
        raise ValueError(f"token_budget_sample: input already has column(s) {clash}")
    if not 1 <= n_buckets <= 256:
        raise ValueError("n_buckets must be in [1, 256] (md5 first-byte ranges)")
    h = F.md5(F.col(id_col).cast("string"))
    # first md5 byte (0..255) scaled down — order-preserving ranges
    b = F.floor(
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int") * n_buckets / 256
    ).cast("int")
    # NULL domains are rejected loudly: the window would give them their
    # own partition but the offset equi-join (NULL != NULL) would then
    # silently drop every one of them — an unbudgeted-domain decision
    # belongs to the caller, not to join null semantics
    dom = F.when(
        F.col(domain_col).isNull(),
        F.raise_error(
            F.lit(f"token_budget_sample: NULL {domain_col} row — fill or "
                  "filter the domain column first")
        ),
    ).otherwise(F.col(domain_col))
    docs = docs.withColumn(domain_col, dom)
    ntok = (
        F.col(n_tokens_col) if n_tokens_col is not None else _n_tokens_col()
    )
    t = docs.select(
        F.col(id_col),
        F.col(domain_col),
        ntok.alias("n_tokens"),
        h.alias("__tb_h"),
        b.alias("__tb_b"),
    )
    sub = t.groupBy(domain_col, "__tb_b").agg(F.sum("n_tokens").alias("__tb_s"))
    woff = (
        Window.partitionBy(domain_col)
        .orderBy("__tb_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = sub.select(
        domain_col,
        "__tb_b",
        F.coalesce(F.sum("__tb_s").over(woff), F.lit(0)).alias("__tb_off"),
    )
    wloc = (
        Window.partitionBy(domain_col, "__tb_b")
        .orderBy("__tb_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if budgets:
        bmap = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
        budget = F.coalesce(
            F.element_at(bmap, F.col(domain_col)), F.lit(default_budget)
        )
    else:
        budget = F.lit(default_budget)
    return (
        t.join(F.broadcast(off), [domain_col, "__tb_b"])
        .withColumn(
            "cum_tokens", (F.col("__tb_off") + F.sum("n_tokens").over(wloc))
        )
        .where(F.col("cum_tokens") <= budget)
        .select(id_col, domain_col, "n_tokens", "cum_tokens")
    )


def decontaminate(train: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Training rows whose normalized text fingerprint does NOT occur
    in the benchmark set (exact-overlap decontamination).  The
    fingerprint is computed IN the train scan (a column, not a join —
    joining the corpus back to itself would shuffle 100 TB); the
    benchmark fingerprint dim is broadcast and the anti-join is
    therefore shuffle-free on the fact side.

    NULL semantics (anti-join): a NULL-text train row has a NULL
    fingerprint, matches nothing, and SURVIVES — and a NULL in the
    benchmark blocks nothing (unlike SQL ``NOT IN``, which one NULL
    poisons into an empty result; the oracle uses NOT EXISTS to
    match)."""
    # internal key column — a caller's own "fingerprint" column (an
    # upstream content hash, say) must come back untouched
    fp = "__decon_fp"
    if fp in train.columns:
        raise ValueError(f"decontaminate: input already has column {fp}")
    train_fp = train.withColumn(fp, fingerprint_col("text"))
    # the benchmark's regex normalization runs BEFORE its distinct's
    # shuffle — on a single-split benchmark file that is one core;
    # spread it when under-partitioned (same adaptive rule as the
    # minhash signature pass; never fires on a many-split table)
    par = benchmark.sparkSession.sparkContext.defaultParallelism
    if benchmark.rdd.getNumPartitions() < par:
        benchmark = benchmark.repartition(par)
    bench_fp = benchmark.select(fingerprint_col("text").alias(fp)).distinct()
    return train_fp.join(F.broadcast(bench_fp), fp, "left_anti").drop(fp)


def norm_word_ngrams(text_col: str = "text", n: int = 13):
    """array<string> Column of the text's normalized word n-grams — the
    SAME normalization as ``fingerprint_col`` (lowercase, punctuation
    stripped, whitespace collapsed), tokenized on the single spaces
    that normalization guarantees.  A text with fewer than ``n``
    normalized tokens yields an EMPTY array (never a descending
    ``sequence``); NULL text yields NULL.  One definition shared by
    every decontamination mode so their match sets can never
    diverge."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text_col), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.when(F.col(text_col).isNotNull(), F.array().cast("array<string>")))


def decontaminate_ngrams(
    train: DataFrame, benchmark: DataFrame, n: int = 13, id_col: str = "doc_id"
) -> DataFrame:
    """Training rows sharing NO normalized word ``n``-gram with the
    benchmark set — the n-gram-overlap decontamination rule (13-gram
    style).  ``decontaminate`` only drops docs whose WHOLE normalized
    text matches a benchmark row; real contamination usually arrives
    embedded mid-page, where only an n-gram window still matches — this
    operator catches exactly that (VERDICT r4 #2).

    Plan shape at 100 TB: the benchmark's distinct gram md5s are a
    small dim (|bench| × tokens rows), broadcast; the train side is
    scanned twice — once exploding grams into the BROADCAST semi-join
    (the exploded gram rows never shuffle; only the matching doc ids —
    a near-empty set — reach the distinct), once for the output
    anti-join against those contaminated ids (broadcast again).  Gram
    join keys are md5 strings, not the ~100-byte gram text.

    Contract edges: NULL-text train rows survive (no grams, anti-join
    NULL semantics, same as ``decontaminate``); train or benchmark
    rows with fewer than ``n`` normalized tokens contribute no grams —
    SHORT benchmark rows therefore block nothing here, which is the
    complement of ``decontaminate``'s whole-text rule: run both modes
    for full coverage."""
    grams = norm_word_ngrams("text", n)
    bench_g = (
        benchmark.select(F.explode(grams).alias("__g"))
        .select(F.md5("__g").alias("__gh"))
        .distinct()
    )
    contaminated = (
        train.select(id_col, F.explode(grams).alias("__g"))
        .select(id_col, F.md5("__g").alias("__gh"))
        .join(F.broadcast(bench_g), "__gh", "left_semi")
        .select(id_col)
        .distinct()
    )
    # no broadcast hint on the contaminated ids: normally near-empty
    # (AQE broadcasts it at runtime), but it is bounded by |train|, not
    # |benchmark| — a forced broadcast could OOM the driver on a
    # heavily-contaminated corpus
    return train.join(contaminated, id_col, "left_anti")


def split_hex_threshold(frac: float) -> str:
    """32-hex-digit string t with P[md5(x) < t] == frac for uniform
    md5, so a lexicographic compare against t buckets exactly ``frac``
    of the hash space.  Shared by ``leakage_safe_split`` and its SQL
    oracle so both engines use the bit-identical literal; only valid
    for 0 <= frac < 1 (the last bucket is the CASE's ELSE arm — a
    frac=1.0 threshold would be 33 digits and lexicographic compare
    breaks on unequal lengths)."""
    if not (0.0 <= frac < 1.0):
        raise ValueError(f"split_hex_threshold: frac must be in [0, 1), got {frac}")
    return format(int(frac * (1 << 128)), "032x")


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: "dict[str, float] | None" = None,
    seed: str = "split",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every doc a train/eval/... split such that NEAR-DUPLICATES
    NEVER STRADDLE A SPLIT BOUNDARY: the split key is the doc's near-dup
    cluster id (connected component of the ``pairs`` graph, singletons
    keyed by their own id), not the doc id.  Splitting by doc hash —
    the naive rule — leaks eval content into train whenever a near-dup
    pair lands on opposite sides; splitting by cluster makes that
    impossible by construction.

    Assignment is a pure deterministic function of (seed, cluster_id):
    md5(seed:cluster_id) compared lexicographically against fixed
    hex thresholds (``split_hex_threshold``), so re-runs, engines, and
    the DuckDB oracle agree bit-for-bit and fractions converge to
    ``weights`` at CLUSTER granularity (md5 uniformity).  ``weights``
    is an ordered name→fraction mapping summing to 1 (default 90/10
    train/eval).

    Plan shape at 100 TB: ``dup_clusters(pairs)`` touches only
    pair-involved docs — duplicate-count sized, typically orders of
    magnitude under the corpus — and joins back to the corpus as a
    plain equi-join AQE broadcasts when small; the hash + threshold
    CASE is per-row JVM expression work with no extra shuffle.  The
    corpus is scanned once.
    """
    from .dedup import dup_clusters

    if weights is None:
        weights = {"train": 0.9, "eval": 0.1}
    if len(weights) < 2:
        raise ValueError("leakage_safe_split: need at least two splits")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"leakage_safe_split: weights sum to {total}, expected 1.0")
    for c in ("cluster_id", "split"):
        if c in docs.columns:
            raise ValueError(f"leakage_safe_split: input already has column {c}")

    clusters = dup_clusters(pairs)
    if id_col != "doc_id":
        clusters = clusters.withColumnRenamed("doc_id", id_col)
    withc = docs.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )

    h = F.md5(F.concat(F.lit(seed + ":"), F.col("cluster_id").cast("string")))
    names = list(weights)
    cum = 0.0
    expr = None
    # CASE h < t1 THEN s1 WHEN h < t2 THEN s2 ... ELSE s_last — the
    # final bucket is the ELSE arm (no frac=1.0 threshold exists)
    for name in names[:-1]:
        cum += weights[name]
        cond = h < F.lit(split_hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return withc.withColumn("split", expr.otherwise(names[-1]))


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 8,
    seed: str = "shuffle",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    "shuffle the corpus, then write N shard files" step every training
    run starts from.  Each row gets:

      shuffle_key — md5(seed:id), the reproducible random order
      shard       — pmod(first 60 bits of the key, n_shards): a
                    uniform hash shard, NOT a range of the sorted
                    order, so assignment needs no global sort and no
                    sampling pass
      pos         — the row's ordinal within its shard in shuffle_key
                    order (ties broken by id), i.e. exactly the order
                    a shard writer would emit

    Determinism is the point: a re-run, a different engine, or the
    DuckDB oracle produce byte-identical (shard, pos) for every doc,
    so a training job can cite "shard 3, positions 0-1M" as a stable
    data address.

    Plan shape at 100 TB: one shuffle, hash-partitioned on ``shard``
    (md5-uniform, skew-free by construction), then a per-shard
    ORDER BY inside the window — Spark's window sort spills, and with
    n_shards in the thousands (vs 8 here for the small-SF oracle) each
    shard is a few tens of GB: the standard shard-writer profile.  The
    key/shard expressions are per-row JVM codegen; nothing touches the
    driver.
    """
    if n_shards < 1:
        raise ValueError(f"shuffle_shards: n_shards must be >= 1, got {n_shards}")
    for c in ("shuffle_key", "shard", "pos"):
        if c in docs.columns:
            raise ValueError(f"shuffle_shards: input already has column {c}")

    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    # first 15 hex digits = 60 bits: fits signed 64-bit in both Spark
    # (conv -> string -> bigint) and the DuckDB oracle ('0x..'::BIGINT)
    shard = F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint"), F.lit(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        docs.withColumn("shuffle_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint") - 1)
    )
