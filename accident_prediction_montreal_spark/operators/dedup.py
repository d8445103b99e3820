"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The large-scale training-data path the reference lacks (BASELINE.json
north star). Design notes for 100 TB:
  * exact dedup — hash-groupBy on a digest, one shuffle on the digest key
    (never on the raw text).
  * MinHash — signatures computed with per-document higher-order
    functions (transform/aggregate over the shingle array): zero shuffle
    until the band-bucket join, and the join key is (band_id, band_hash),
    small and uniform.
  * SimHash — 64-bit signature via bit-vote aggregation, again pure
    column math.
  * n-gram Jaccard — exact pairwise similarity restricted to documents
    sharing at least one shingle (inverted-index join), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.operators.text import tokenize


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key (the smallest ``order_col``).

    row_number over (key) ordered by ``order_col`` — deterministic,
    one shuffle. For long-text keys, pass a digest column (md5) instead of
    raw text so the shuffle key is 16 bytes, not the document.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (empty if < n words)."""
    toks = tokenize(text)
    count = F.size(toks) - (n - 1)
    # greatest(count, 1): Spark's sequence(1, 0) would count DOWN; the
    # when() guard discards the dummy gram for short docs.
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(count >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _bind_once(value: Column, body) -> Column:
    """Evaluate ``value`` once and feed it to ``body`` as a lambda variable.

    Catalyst does NO common-subexpression elimination across higher-order
    -function lambdas: an expression referenced k times is computed k
    times. Wrapping it as the sole element of an array and applying
    ``body`` via transform binds it to a NamedLambdaVariable, which IS
    evaluated once — measured 2x on the shingle map stage at sf0.1.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def word_shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct word-n-gram shingles as 64-bit hashes (array<long>).

    Numeric shingles: hash each token once (``_bind_once`` keeps it to
    exactly once — see its CSE note), then chain n shifted copies with
    zip_with — a shingle hash mixes n consecutive token hashes with NO
    per-shingle string building. The mapping from string shingles is
    injective in practice (64-bit collisions ~|shingles|²/2⁶⁴), so
    distinct counts — and therefore Jaccard and MinHash — are preserved
    while shuffle keys shrink from multi-word strings to 8 bytes.
    """
    toks = tokenize(F.col(text) if isinstance(text, str) else text)

    def body(th: Column) -> Column:
        count = F.size(th) - (n - 1)
        safe_count = F.greatest(count, F.lit(0))
        gram_h = F.slice(th, 1, safe_count)
        for j in range(1, n):
            gram_h = F.zip_with(
                gram_h, F.slice(th, j + 1, safe_count), lambda a, b: F.xxhash64(a, b)
            )
        # short docs: safe_count 0 -> empty slice -> empty array
        return F.array_distinct(gram_h)

    return _bind_once(F.transform(toks, lambda t: F.xxhash64(t)), body)


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, sig) MinHash signatures via explode → hash-once → groupBy-min.

    signature[i] = min over 64-bit shingle hashes h of xxhash64(h, i).
    Each shingle is materialized once by ``explode``; the per-family
    hashes are cheap long-pair mixes aggregated map-side, so the shuffle
    carries (doc, num_hashes longs). A map-only column form (32 inlined
    array_min(transform(...)) families, HOF-bound once) computes the same
    values with zero shuffle but loses in practice: the fused expression
    falls out of whole-stage codegen and runs interpreted — measured
    slower end-to-end at sf0.1 than this shuffle + tiny agg. The
    Aggregate is also a project-collapse barrier: downstream consumers
    reference ``sig`` as a materialized attribute instead of re-inlining
    (and re-evaluating) the signature math per reference.
    """
    exploded = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingle_hashes(text_col, shingle_n)).alias("h"),
    )
    aggs = [F.min(F.xxhash64("h", F.lit(i))).alias(f"m{i}") for i in range(num_hashes)]
    return (
        exploded.groupBy("doc")
        .agg(*aggs)
        .select("doc", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard ≥ threshold.

    Classic banding: split the signature into ``bands`` rows of
    ``num_hashes/bands``; documents colliding on any band's hash become
    candidates (equi-join on (band_id, band_hash)); estimated Jaccard =
    fraction of equal signature components. Returns (id_a, id_b, est_jaccard)
    with id_a < id_b.

    ``max_bucket_size`` is the skew guard: a band bucket holding > N docs
    would emit O(N²) candidate pairs; such buckets are dropped (at any
    realistic banding they indicate boilerplate/degenerate content, and
    at 100 TB they are the difference between a bounded join and a
    runaway shuffle).
    """
    rows = num_hashes // bands
    sigs = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_n)

    banded = sigs.select(
        "doc",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc", "sig", "band.band_id", "band.band_hash")

    # Pairs come from collect_list per bucket + nested-HOF combination
    # generation, NOT a self-join: the join form re-evaluates the whole
    # scan->shingle->signature map stage once per side (AQE broadcasts
    # the "small" side, so the exchange is never reused), and needs an
    # extra window shuffle for the bucket-size guard. Here one shuffle
    # does everything; collect_list is safe because the guard drops any
    # bucket over max_bucket_size (<=200 members x 32 longs per group).
    # Measured 1.8s -> 0.75s at sf0.1.
    def pair(x: Column, y: Column) -> Column:
        n_eq = F.size(
            F.filter(
                F.zip_with(x["sig"], y["sig"], lambda p, q: (p == q).cast("int")),
                lambda v: v == 1,
            )
        )
        return F.struct(
            F.least(x["doc"], y["doc"]).alias("id_a"),
            F.greatest(x["doc"], y["doc"]).alias("id_b"),
            (n_eq / F.lit(float(num_hashes))).alias("est_jaccard"),
        )

    ms = F.col("ms")
    combos = F.flatten(
        # two-param lambda ON PURPOSE: pyspark passes the element index
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)), lambda y: pair(x, y)
            ),
        )
    )
    pairs = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.collect_list(F.struct("doc", "sig")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size))
        .select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b", "p.est_jaccard")
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.filter(F.col("est_jaccard") >= min_est_jaccard)


def minhash_signature_hashed(
    text: Column | str, num_hashes: int = 32, n: int = 3
) -> Column:
    """MAP-ONLY column form of minhash_signatures_df's signature: the
    same values (min over 64-bit shingle hashes h of xxhash64(h, i)) as
    a pure per-row expression — no groupBy, so it runs under STREAMING
    semantics (a streaming aggregation would demand a watermark). Use
    on the small/streaming side; the batch aggregate form stays the
    right choice for full-corpus builds (see minhash_signatures_df's
    codegen note)."""

    def family(i: int):
        # closure per family — NOT `lambda h, i=i`: a two-parameter lambda
        # makes pyspark pass the ELEMENT INDEX as the second argument,
        # silently rebinding i and collapsing every family to the same hash
        return lambda h: F.xxhash64(h, F.lit(i))

    def body(th: Column) -> Column:
        sig = F.array(
            *[F.array_min(F.transform(th, family(i))) for i in range(num_hashes)]
        )
        return F.when(F.size(th) > 0, sig)

    return _bind_once(word_shingle_hashes(text, n), body)


def band_explode(sig: Column | str, num_hashes: int = 32, bands: int = 8) -> Column:
    """The LSH banding expression shared by EVERY band producer: explode a
    minhash signature array into ``bands`` structs of (band_id, band_hash),
    hashing each contiguous ``num_hashes/bands`` slice with xxhash64.

    A single definition matters for correctness, not style: an index built
    by :func:`banded_signatures` and a probe built elsewhere (e.g. the
    streaming side of incremental dedup) MUST band identically or every
    band stops colliding — silently, since empty joins look like "no dups".
    """
    rows = num_hashes // bands
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                F.xxhash64(F.slice(sig, b * rows + 1, rows)).alias("band_hash"),
            ),
        )
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, sig, band_id, band_hash) — the LSH band index rows for a
    corpus: one row per (document, band). This IS the at-rest dedup
    index a continuously-ingesting pipeline maintains (partition by
    band_id, bucket by band_hash when persisting)."""
    sigs = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_n)
    return sigs.select(
        "doc",
        "sig",
        band_explode("sig", num_hashes, bands).alias("band"),
    ).select("doc", "sig", "band.band_id", "band.band_hash")


def minhash_incremental_pairs(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup detection: new-batch documents that collide
    with an EXISTING corpus — the continuous-ingestion shape, where each
    arriving batch is checked against the historical index and only
    accepted rows join it.

    ``corpus_index``, when given, is a prebuilt ``banded_signatures``
    frame for ``corpus`` (columns doc, sig, band_id, band_hash —
    typically the PERSISTED at-rest index) and replaces the internal
    re-signature of the corpus: at production scale the index is at
    rest on disk and a maintenance pass must probe it, not recompute a
    corpus-wide MinHash per batch. Values are identical by definition
    whenever the index was built by ``banded_signatures`` with the same
    parameters over the same corpus.

    Candidates come from an equi-join of the new batch's band rows
    against the corpus band index on (band_id, band_hash) — cost scales
    with |new batch| x collision rate, NEVER with |corpus|² and never
    with new-vs-new pairs (in-batch duplicates are the ordinary
    minhash_dedup_pairs pass, run separately if wanted). Returns
    (new_id, corpus_id, est_jaccard) for est >= threshold; the est is
    the full-signature agreement fraction computed once per distinct
    colliding pair. At production scale the corpus side is the
    PERSISTED index (banded_signatures written partitioned by band_id),
    so the join prunes to the new batch's band partitions.
    """
    new_b = banded_signatures(
        new_batch, id_col, text_col, num_hashes, bands, shingle_n
    ).select(
        F.col("doc").alias("new_id"),
        F.col("sig").alias("__nsig"),
        "band_id",
        "band_hash",
    )
    idx = (
        corpus_index
        if corpus_index is not None
        else banded_signatures(
            corpus, id_col, text_col, num_hashes, bands, shingle_n
        )
    ).select(
        F.col("doc").alias("corpus_id"),
        F.col("sig").alias("__csig"),
        "band_id",
        "band_hash",
    )
    n_eq = F.size(
        F.filter(
            F.zip_with("__nsig", "__csig", lambda p, q: (p == q).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        new_b.join(idx, ["band_id", "band_hash"])
        .select("new_id", "corpus_id", "__nsig", "__csig")
        .dropDuplicates(["new_id", "corpus_id"])
        .select(
            "new_id",
            "corpus_id",
            (n_eq / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def simhash(text: Column | str, bits: int = 62) -> Column:
    """SimHash of the token multiset as a non-negative long (≤ 62 bits).

    bit b is set iff Σ over tokens of sign(xxhash64(token ‖ '#' ‖ b)) > 0 —
    a salted-hash sign-vote family (equivalent locality behavior to
    bit-extraction simhash; per-bit hashes are independent). Implemented
    as transform over bit positions + aggregate over tokens — all JVM
    higher-order functions, no UDF. 62 bits keeps 2^b exact in the
    double→long power step and the result positive.
    """
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62]")
    # Hash tokens to longs ONCE — _bind_once, or the per-bit lambdas
    # re-evaluate the token hashing `bits` times (no CSE in HOF lambdas).
    # Per-bit votes mix (token_hash, bit) as a long pair — no
    # per-(token, bit) string building.
    def body(tok_h: Column) -> Column:
        votes = F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda b: F.aggregate(
                tok_h,
                F.lit(0),
                lambda acc, h: acc + F.when(F.xxhash64(h, b) > 0, 1).otherwise(-1),
            ),
        )
        return F.aggregate(
            F.zip_with(
                votes,
                F.sequence(F.lit(0), F.lit(bits - 1)),
                # 2^b is exact in double for b ≤ 62, so the cast is lossless.
                lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return _bind_once(F.transform(tokenize(text), lambda t: F.xxhash64(t)), body)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle, count the intersection, derive |A∪B| = |A|+|B|−|A∩B|.

    ``max_doc_freq`` is the scale lever: shingles appearing in more than
    that many documents are dropped BEFORE the self-join (and excluded
    from the per-document set size, i.e. Jaccard is over rare-shingle
    sets). Frequent shingles aren't discriminative for near-dup detection
    but create quadratic skew — a shingle shared by 10⁶ docs would emit
    5·10¹¹ pairs. Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # 64-bit shingle hashes instead of multi-word strings: halves the
    # shuffle payload; distinct counts (hence Jaccard) are preserved —
    # see word_shingle_hashes on collision odds.
    #
    # Postings are grouped per shingle (collect_list of the doc ids —
    # bounded by max_doc_freq, and a doc lists each distinct shingle
    # once) and intra-bucket pairs generated with nested HOFs. The
    # earlier inverted-index SELF-JOIN evaluated the whole
    # tokenize/hash/explode map stage once per join side (AQE broadcasts
    # the "small" side, so the exchange was never reused) and needed a
    # doc-frequency window on top; this form runs the map exactly once.
    # The lineage is deliberately LINEAR — every DataFrame below has one
    # consumer. Branching (e.g. a separate per-doc sizes aggregate joined
    # back on the pair counts) re-evaluates the expensive map stage once
    # per branch: Spark materializes nothing between branches, and AQE's
    # broadcast decisions defeat exchange reuse (observed: 3 full
    # scan+explode pipelines in the executed plan). Here the postings are
    # bucketed per shingle, re-exploded (rare-only) for the per-doc size
    # window, re-bucketed carrying (doc, n_sh), and pairs generated
    # intra-bucket — four shuffles of 8-to-16-byte rows, the map exactly
    # once, no joins at all.
    return _shingle_pair_intersections(df, id_col, text_col, n, max_doc_freq).select(
        "id_a",
        "id_b",
        (
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def _shingle_pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """(id_a, id_b, n_a, n_b, n_common) for every unordered doc pair
    sharing ≥1 (doc-freq-capped) shingle — the shared core of the
    Jaccard and containment set-similarity joins (plan-shape notes in
    ngram_jaccard_pairs' docstring and comments above)."""
    post = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingle_hashes(text_col, n)).alias("sh"),
    )
    buckets = post.groupBy("sh").agg(F.collect_list("doc").alias("ds"))
    if max_doc_freq is not None:
        buckets = buckets.filter(F.size("ds") <= max_doc_freq)

    # Per-doc set sizes count ALL surviving shingles (incl. singletons):
    # similarity is over each doc's rare-shingle set.
    sized = buckets.select("sh", F.explode("ds").alias("doc")).withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc"))
    )
    rebucketed = (
        sized.groupBy("sh")
        .agg(F.collect_list(F.struct("doc", "n_sh")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )

    def pair(x: Column, y: Column) -> Column:
        a_first = x["doc"] < y["doc"]
        return F.struct(
            F.least(x["doc"], y["doc"]).alias("id_a"),
            F.greatest(x["doc"], y["doc"]).alias("id_b"),
            F.when(a_first, x["n_sh"]).otherwise(y["n_sh"]).alias("n_a"),
            F.when(a_first, y["n_sh"]).otherwise(x["n_sh"]).alias("n_b"),
        )

    ms = F.col("ms")
    combos = F.flatten(
        # two-param lambda ON PURPOSE: pyspark passes the element index
        F.transform(
            ms,
            lambda x, i: F.transform(F.slice(ms, i + 2, F.size(ms)), lambda y: pair(x, y)),
        )
    )
    return (
        rebucketed.select(F.explode(combos).alias("p"))
        .groupBy("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram CONTAINMENT join — Broder (1997)'s asymmetric
    twin of resemblance: containment(A→B) = |A∩B| / |A| over (doc-freq-
    capped) distinct shingle sets.

    This catches SUBSET duplication that Jaccard structurally misses: a
    short document quoted verbatim inside a long one has
    J ≈ |A|/|B| → 0 as the container grows, but containment(A→B) = 1 —
    the shape behind quote/boilerplate/embedded-document dedup in
    training-corpus curation. Returns ORDERED rows
    (contained_id, container_id, containment ≥ threshold); a mutual
    near-dup pair emits both directions.

    Same capped inverted-index plan as ngram_jaccard_pairs (one shared
    core, see _shingle_pair_intersections): the per-pair intersection is
    computed once and both directed ratios derive from it, so the
    asymmetric join costs exactly what the symmetric one does.
    """
    agg = _shingle_pair_intersections(df, id_col, text_col, n, max_doc_freq)
    directed = F.array(
        F.struct(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            (F.col("n_common") / F.col("n_a").cast("double")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("contained_id"),
            F.col("id_a").alias("container_id"),
            (F.col("n_common") / F.col("n_b").cast("double")).alias("containment"),
        ),
    )
    return (
        agg.select(F.explode(directed).alias("d"))
        .select("d.contained_id", "d.container_id", "d.containment")
        .filter(F.col("containment") >= min_containment)
    )


def repeated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-span masking stats (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": remove substrings that
    occur verbatim more than once in the corpus).

    Per document: total token count and the number of token positions
    covered by at least one k-token span whose exact sequence occurs
    >= ``min_count`` times ANYWHERE in the corpus (including twice in
    the same document). Returns (id, n_tokens, n_masked) — integer
    exact, so the result hash cannot flake.

    Scale shape: positional span hashes are built with the same
    hash-each-token-once + zip_with chaining as ``word_shingle_hashes``
    (no per-span strings); the global span count is a map-side-combined
    groupBy on an 8-byte key — boilerplate spans with millions of
    occurrences cost ONE aggregate row, never a pair join — and only
    spans that pass the count gate flow into the (bounded) position
    explode. The mask decision is hash-invariant, so an oracle may
    compute it over string spans.
    """
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize(text)

    def spans_of(th: Column) -> Column:
        count = F.greatest(F.size(th) - (k - 1), F.lit(0))
        gram = F.slice(th, 1, count)
        for j in range(1, k):
            gram = F.zip_with(
                gram, F.slice(th, j + 1, count), lambda a, b: F.xxhash64(a, b)
            )
        return gram

    base = df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        _bind_once(F.transform(toks, lambda t: F.xxhash64(t)), spans_of).alias(
            "__spans"
        ),
    )
    spans = base.select(id_col, F.posexplode("__spans").alias("pos", "h"))
    repeated = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("h")
    )
    masked = (
        spans.join(repeated, "h")
        .select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "tokidx"
            ),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_masked"))
    )
    return (
        base.select(id_col, "n_tokens")
        .join(masked, id_col, "left")
        .na.fill(0, ["n_masked"])
        .select(id_col, "n_tokens", F.col("n_masked").cast("long").alias("n_masked"))
    )


def editdist1_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "title",
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Edit-distance-≤1 similarity join via the SymSpell/FastSS
    deletion-neighborhood: every string emits itself plus each
    single-character-deletion variant; two strings within ONE edit
    (substitution, insertion, or deletion) provably share at least one
    variant, so candidates come from a bucketed EQUI-join on the variant
    hash — never an all-pairs comparison — and a final
    ``levenshtein ≤ 1`` check removes the false positives the
    neighborhood admits (e.g. transpositions at distance 2, and any
    64-bit hash collisions, which only ever ADD candidates).

    Exactness: lossless for k=1 by the deletion-neighborhood theorem
    (substitution at i: delete position i from both sides → equal;
    insertion/deletion: the shorter string IS a variant of the longer).
    Scale: fan-out is |s|+1 hashed variants per row (8-byte keys, the
    text rides only into the candidate join's two sides); buckets
    larger than ``max_bucket_size`` (mass-duplicated strings) are
    dropped like the minhash/jaccard caps — exactness then degrades
    only for those degenerate keys, and the cap is what stops a
    boilerplate title from forming O(n²) pairs at 100 TB.

    Returns (id_a, id_b, dist) with id_a < id_b, dist ∈ {0, 1}.
    """
    s = F.col(text_col)
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s))),
    )
    variants = F.concat(F.array(s), deletions)
    exploded = df.select(
        F.col(id_col), s.alias("__t"), F.explode(variants).alias("__v")
    ).select(id_col, "__t", F.xxhash64("__v").alias("__vh"))

    counts = exploded.groupBy("__vh").agg(F.count(F.lit(1)).alias("__n"))
    kept = exploded.join(
        F.broadcast(counts.filter(F.col("__n") > max_bucket_size)), "__vh", "left_anti"
    ) if max_bucket_size else exploded
    a = kept.select(
        F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"), "__vh"
    )
    b = kept.select(
        F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"), "__vh"
    )
    pairs = (
        a.join(b, "__vh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ta", "__tb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.6,
    counters: dict | None = None,
) -> DataFrame:
    """EXACT Jaccard threshold self-join via prefix filtering (PPJoin,
    Xiao et al. 2008) — the scale path the capped inverted index
    (``ngram_jaccard_pairs``) approximates with its ``max_doc_freq``
    heuristic. No cap, no heuristic: every pair with J ≥ t is returned,
    with a correctness proof instead of a frequency cutoff.

    Prefix-filter theorem: order every document's shingle set by one
    GLOBAL total order (ascending document frequency, ties by hash — the
    rarest tokens first, so prefixes land in the emptiest buckets). If
    J(a,b) ≥ t then their overlap is ≥ t·max(|a|,|b|), so a and b MUST
    share a token within their first |x| − ceil(t·|x|) + 1 tokens. Only
    those prefix tokens are indexed; everything else never enters the
    candidate join.

    Plan shape (the 100-TB story): one token-keyed aggregate for document
    frequencies, one window per doc for the frequency ranking (tokenized
    docs and the ranked prefix each persist once — four branches read
    them), then a whole-stage-codegen'd SELF EQUI-JOIN of the prefix
    postings on the token with the PPJoin length filter (t·max ≤ min)
    AND the PPJoin POSITIONAL filter in the join's streamed filter, and
    exact verification of the deduped candidates against the full
    shingle-hash arrays via array_intersect. The positional filter is
    the "P": a shared token at (frequency-order) positions p_a, p_b can
    start an overlap of at most 1 + min(|a|−p_a, |b|−p_b) common
    tokens, so an emission whose bound falls below the required overlap
    α = t·(|a|+|b|)/(1+t) is pruned; a qualifying pair always survives
    through its FIRST shared token (no earlier commons exist there, so
    the bound is exact) and the cross-bucket dropDuplicates keeps any
    surviving emission. Candidate volume is bounded by prefix bucket
    sizes — rare-token buckets by construction — never by raw token
    frequency; no all-pairs stage exists anywhere. On the deliberately
    dense stress corpus (10x replication, mean token df ~75) the
    filters cut 35M raw emissions to 9.6M and wall time is
    candidate-bound: ~6.6M distinct candidates verify in ~0.5 µs each.
    """
    t = min_jaccard
    docs = (
        df.select(
            F.col(id_col).alias("doc"),
            word_shingle_hashes(text_col, n).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )
    # Tokenize+hash ONCE: four branches read the shingle arrays
    # (frequency build, prefix build, and both verification sides) —
    # unpersisted, the tokenization pass re-ran per branch and was
    # ~40% of sf1 wall time. cachereg bounds the leak to one generation
    # per session.
    cached = cachereg.generation("dedup.ppjoin_pairs")
    docs = cached.persist(docs)

    post = docs.select("doc", F.size("sh").alias("len"), F.explode("sh").alias("h"))
    freq = post.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # Rank each doc's tokens by the global (df, h) order; keep the PROBE
    # prefix |x| − ⌈t·|x|⌉ + 1. The −1e-9 inside ceil only ever LENGTHENS
    # a prefix at a float boundary (e.g. a t whose binary rounding lands
    # above the rational value) — over-indexing is redundant work,
    # under-indexing would be unsound.
    w = Window.partitionBy("doc").orderBy("df", "h")
    prefix_len = (
        F.col("len")
        - F.ceil(F.lit(t) * F.col("len") - F.lit(1e-9)).cast("int")
        + 1
    )
    # Both sides of the candidate self-join read the prefix — without
    # the persist, the freq join + ranking window ran twice.
    pref = cached.persist(
        post.join(freq, "h")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= prefix_len)
        .select("doc", "len", F.col("__r").alias("pos"), "h")
    )
    # Candidate generation is a plain SELF EQUI-JOIN of the prefix
    # postings on the token — whole-stage-codegen'd, with both PPJoin
    # filters applied in the join's streamed filter. (An earlier form
    # collected each bucket into an array and enumerated combos with
    # nested TRANSFORM lambdas — higher-order functions are interpreted
    # per element, and at 35M raw combos that interpretation dominated
    # the whole query: the join form is ~3x faster end-to-end at sf1.)
    #
    # Both join inputs are the SAME projection shape of the persisted
    # prefix — Catalyst then REUSES one shuffle exchange for both sides.
    # (Tried and reverted, r9: the canonical PPJoin asymmetric INDEXING
    # PREFIX — index the length-ordered shorter side by only its
    # |x|−⌈2t/(1+t)·|x|⌉+1 mid-prefix — cut raw emissions 35M → 23M on
    # the 10× stress corpus but made wall time WORSE at both scales: the
    # differing side filters broke the ReusedExchange, and the distinct-
    # candidate set barely moved (6.9955M either way) because witness
    # tokens on this corpus already sit in early prefix positions. The
    # accumulated-overlap pair filter (count shared prefix tokens + tail
    # bound) pruned exactly 0 of the 7M candidates for the same reason.
    # Full numbers in PERF.md r9.)
    pa = pref.select(
        F.col("doc").alias("id_a"),
        F.col("len").alias("len_a"),
        F.col("pos").alias("pos_a"),
        "h",
    )
    pb = pref.select(
        F.col("doc").alias("id_b"),
        F.col("len").alias("len_b"),
        F.col("pos").alias("pos_b"),
        "h",
    )
    cand = (
        pa.join(pb, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        # PPJoin length filter: J >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
        .filter(
            F.least("len_a", "len_b")
            >= F.lit(t) * F.greatest("len_a", "len_b") - F.lit(1e-9)
        )
        # PPJoin positional filter: an emission through a token at
        # (frequency-order) positions p_a, p_b can witness at most
        # 1 + min(|a|−p_a, |b|−p_b) common tokens; a qualifying pair
        # needs α = t·(|a|+|b|)/(1+t) — the 1e-9 slack only ever KEEPS
        # a float-boundary pair (verification is exact), never drops one.
        .filter(
            F.least(
                F.col("len_a") - F.col("pos_a"), F.col("len_b") - F.col("pos_b")
            )
            + F.lit(1.0 + 1e-9)
            >= F.lit(t / (1.0 + t)) * (F.col("len_a") + F.col("len_b"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Instrumentation (stress artifacts only — two extra actions):
    # distinct candidate count and raw prefix-bucket emissions, the two
    # numbers that show whether the prefix filter is pruning (Zipfian
    # corpora: candidates << all-pairs) or density-bound (the dense
    # synthetic stress corpus, PERF.md r9).
    if counters is not None:
        counters["raw_emissions"] = (
            pa.join(pb, "h").filter(F.col("id_a") < F.col("id_b")).count()
        )
        counters["candidates"] = cand.count()
    # Exact verification: intersect the full (distinct) shingle-hash arrays.
    a = docs.select(F.col("doc").alias("id_a"), F.col("sh").alias("__sha"))
    b = docs.select(F.col("doc").alias("id_b"), F.col("sh").alias("__shb"))
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    # (Tried and reverted, r9: F.broadcast on both doc sides cut the
    # isolated verify stage 4.1 s → 1.5 s at stress scale by keeping the
    # array payloads out of the shuffle, but end-to-end it was a wash at
    # sf1 — local[32] overlaps the shuffle with upstream stages — and the
    # row-count probe action needed to gate it regressed sf0.1 ~2×.)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )
