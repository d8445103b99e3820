"""Train/eval decontamination: flag training documents that share word
n-grams with an evaluation set (north-star LLM-pipeline extension; the
standard pretraining hygiene step — remove benchmark text from the
training corpus before fitting).

Spark-first shape — the same postings-bucket pattern as
``dedup.ngram_jaccard_pairs`` (one map pass over each side, shuffles
carry 8-byte shingle hashes, never text):

  * both sides explode to (shingle_hash, doc) postings via
    ``word_shingle_hashes`` (distinct word-n-grams, 64-bit xxhash — the
    injective-in-practice mapping preserves overlap COUNTS, so a SQL
    oracle computing over string n-grams agrees);
  * postings are bucketed per shingle with train/eval docs collected
    separately, dropping shingles whose COMBINED document frequency
    exceeds ``max_doc_freq`` — frequent n-grams aren't evidence of
    contamination but create quadratic skew (a shingle in 10⁶ train docs
    × 10³ eval docs would emit 10⁹ pairs);
  * train×eval pairs are generated intra-bucket and aggregated to
    (train_id, eval_id, n_shared).

At 100 TB the eval side is tiny (benchmarks are ~10⁴-10⁶ docs), so with
``max_doc_freq=None`` the operator instead broadcasts the eval postings
and never shuffles the train side at all — one map stage + one partial
agg. The capped path is the one under the DuckDB oracle (the cap needs
a global shingle-frequency window either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.vectors import (
    ZERO_NORM_SCORE,
    cosine_rows,
    top_n,
)
from accident_prediction_montreal_spark.operators.dedup import word_shingle_hashes
from accident_prediction_montreal_spark.operators.ivf import (
    broadcast_unit_rows,
    build_ivf_index,
    cell_best_n,
    probe_cells,
)


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(train_id, eval_id, n_shared): distinct word-``n``-grams shared by
    each contaminated (train doc, eval doc) pair, pairs with
    ``n_shared >= min_shared`` only.

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents ACROSS BOTH SIDES before any pair is formed. When None,
    the eval postings are broadcast (the 100-TB plan: eval sets are
    small); when set, both sides shuffle once on the shingle hash.
    """
    t_post = train.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingle_hashes(text_col, n)).alias("sh"),
    )
    e_post = eval_df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingle_hashes(text_col, n)).alias("sh"),
    )

    if max_doc_freq is None:
        pairs = (
            t_post.withColumnRenamed("doc", "train_id")
            .join(
                F.broadcast(e_post.withColumnRenamed("doc", "eval_id")),
                "sh",
            )
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        return pairs.filter(F.col("n_shared") >= min_shared)

    # Capped path: one bucket shuffle keyed by shingle, train/eval docs
    # collected per bucket (linear lineage — the map runs once per side;
    # see ngram_jaccard_pairs on why branching re-evaluates map stages).
    posts = t_post.withColumn("is_train", F.lit(True)).unionAll(
        e_post.withColumn("is_train", F.lit(False))
    )
    buckets = (
        posts.groupBy("sh")
        .agg(
            F.collect_list(F.when(F.col("is_train"), F.col("doc"))).alias("ts"),
            F.collect_list(F.when(~F.col("is_train"), F.col("doc"))).alias("es"),
        )
        .filter(
            (F.size("ts") + F.size("es") <= max_doc_freq)
            & (F.size("ts") >= 1)
            & (F.size("es") >= 1)
        )
    )

    def cross(ts: Column, es: Column) -> Column:
        return F.flatten(
            F.transform(
                ts,
                lambda t: F.transform(es, lambda e: F.struct(t.alias("t"), e.alias("e"))),
            )
        )

    pairs = (
        buckets.select(F.explode(cross(F.col("ts"), F.col("es"))).alias("p"))
        .groupBy(
            F.col("p.t").alias("train_id"),
            F.col("p.e").alias("eval_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return pairs.filter(F.col("n_shared") >= min_shared)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Training frame minus contaminated docs (left_anti on the flagged
    train ids — composes the J4 first-class anti-join)."""
    flagged = (
        contamination_pairs(
            train, eval_df, id_col, text_col, n, min_shared, max_doc_freq
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(flagged, id_col, "left_anti")


def semantic_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    train_id: str = "train_id",
    eval_id: str = "eval_id",
    vec_col: str = "embedding",
    max_eval_rows: int | None = 100_000,
    strategy: str = "auto",
    n_cells: int = 64,
    n_probe: int = 8,
    max_iter: int = 20,
) -> DataFrame:
    """EMBEDDING-level train/eval contamination — the semantic screen run
    beside the n-gram one (``contamination_pairs``): paraphrased or
    re-worded eval leakage shares almost no shingles but keeps a high
    embedding cosine, so production decontamination reports both
    screens. Returns one row per contaminated train doc:
    (train_id, eval_id, cosine) for its BEST eval match at or above
    ``threshold`` (ties broken by eval_id for determinism).

    Scale shape: eval sets are small by nature (thousands of benchmark
    rows vs a 100-TB corpus), so the unit-normalized eval MATRIX rides a
    broadcast (operators/ivf.py::broadcast_unit_rows, freed through
    cachereg) into an Arrow-batched ``mapInPandas`` pass: each train
    batch is one numpy matmul against every eval vector (the SemDeDup
    pair-stage lesson — a crossJoin evaluating the fold-based cosine per
    pair is interpreted per element and measured 50× slower at 50k×1.4k
    pairs), the argmax and threshold resolve INSIDE the batch, and the
    train side never shuffles at all — the output is only the flagged
    fraction. BLAS summation order differs from a sequential fold by
    ~1e-15 relative, immaterial at any realistic threshold margin.
    ``max_eval_rows`` bounds the driver collect/broadcast.

    ``strategy`` picks the physical plan:

      * ``'broadcast'`` — the matmul form above; an eval side over
        ``max_eval_rows`` raises (misuse should be loud);
      * ``'bucketed'`` — the giant-eval scale path: an IVF coarse
        quantizer (operators/ivf.py) is fit on the EVAL side, each train
        vector probes only its ``n_probe`` nearest of ``n_cells`` cells
        (``probe_cells``), and the cosine + best-match resolve inside
        the cell join (``cell_best_n``, the stages bucketed IVF top-k
        is built from) — no driver collect, both sides stay
        distributed. Approximate when
        ``n_probe < n_cells`` (a match in an unprobed cell is missed —
        exact duplicates are always found via the quantizer's self-hit
        guarantee); ``n_probe = n_cells`` is exact but degenerates to
        the all-pairs join. Null/ragged embeddings raise from the
        Arrow-batched cosine stage with the operator's name (zero-norm
        vectors are valid and never flag).
      * ``'auto'`` — broadcast when the eval side fits the cap, else
        bucketed: the operator degrades gracefully instead of erroring.

    Input hygiene (broadcast path): eval vectors are validated at
    collect time and train vectors inside the Arrow batch — a null or
    ragged embedding raises a ValueError naming the operator and column
    instead of an opaque executor-side np.stack/Arrow error.
    """
    import numpy as np
    from pyspark.sql import types as T

    if strategy not in ("auto", "broadcast", "bucketed"):
        raise ValueError(
            f"semantic_contamination: unknown strategy {strategy!r} "
            "(expected 'auto', 'broadcast' or 'bucketed')"
        )
    if strategy == "bucketed":
        return _semantic_contamination_bucketed(
            train, eval_df, threshold, train_id, eval_id, vec_col,
            n_cells, n_probe, max_iter,
        )

    ev_rows = (
        eval_df.select(
            F.col(eval_id), F.col(vec_col).cast("array<double>").alias("v")
        )
        .orderBy(eval_id)
        .limit((max_eval_rows + 1) if max_eval_rows is not None else 2**31 - 1)
        .collect()
    )
    if max_eval_rows is not None and len(ev_rows) > max_eval_rows:
        if strategy == "auto":
            return _semantic_contamination_bucketed(
                train, eval_df, threshold, train_id, eval_id, vec_col,
                n_cells, n_probe, max_iter,
            )
        raise ValueError(
            f"semantic_contamination eval side exceeds max_eval_rows="
            f"{max_eval_rows}: the broadcast-matmul form is for benchmark-"
            "sized eval sets; use strategy='auto'/'bucketed' (IVF cell "
            "join), or raise the cap"
        )
    bad = [r[0] for r in ev_rows if r[1] is None or any(x is None for x in r[1])]
    if bad:
        raise ValueError(
            f"semantic_contamination: null embedding in eval column "
            f"{vec_col!r} (e.g. {eval_id}={bad[0]!r}, {len(bad)} total) — "
            "filter or impute before decontamination"
        )
    dims = {len(r[1]) for r in ev_rows}
    if len(dims) > 1:
        raise ValueError(
            f"semantic_contamination: ragged eval embeddings in "
            f"{vec_col!r} (dims seen: {sorted(dims)})"
        )
    if not ev_rows:
        # Empty eval side: nothing can be contaminated — an empty result
        # with the contract schema, not an np.stack crash (r14 fuzz).
        from pyspark.sql import types as T2

        return train.sparkSession.createDataFrame(
            [],
            T2.StructType(
                [
                    T2.StructField(train_id, train.schema[train_id].dataType),
                    T2.StructField(eval_id, eval_df.schema[eval_id].dataType),
                    T2.StructField("cosine", T2.DoubleType()),
                ]
            ),
        )
    # Sorted ascending by eval_id: top_n's argmax returns the FIRST max,
    # which is then exactly the (cosine DESC, eval_id ASC) tie-break.
    # dtype inferred: numeric ids become int64, string ids stay objects —
    # either indexes fine and Arrow casts to the declared output type.
    bc = broadcast_unit_rows(
        train.sparkSession, "operators.semantic_contamination", ev_rows
    )

    id_type = train.schema[train_id].dataType
    eval_id_type = eval_df.schema[eval_id].dataType
    out_schema = T.StructType(
        [
            T.StructField(train_id, id_type),
            T.StructField(eval_id, eval_id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def flag(batches):
        import pandas as pd

        ids_e, eut = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col].to_numpy()
            if any(v is None for v in vecs):
                raise ValueError(
                    "semantic_contamination: null embedding in train "
                    f"column {vec_col!r} — filter or impute before "
                    "decontamination"
                )
            try:
                x = np.stack(vecs).astype(np.float64)
            except ValueError as exc:
                raise ValueError(
                    "semantic_contamination: ragged/malformed train "
                    f"embeddings in {vec_col!r} (dims seen: "
                    f"{sorted({len(v) for v in vecs})})"
                ) from exc
            # Same contract as the bucketed path: a zero-norm train
            # vector NEVER flags, at any threshold — at cosine 0.0 vs
            # every eval row it would flag whenever threshold <= 0,
            # making the two physical strategies (and 'auto' routing)
            # disagree.
            g = cosine_rows(x, eut, ZERO_NORM_SCORE)  # (batch, n_eval)
            j = top_n(g, ids_e, 1)[:, 0]
            best = g[np.arange(len(j)), j]
            keep = best >= threshold
            yield pd.DataFrame(
                {
                    train_id: pdf[train_id].to_numpy()[keep],
                    eval_id: ids_e[j[keep]],
                    "cosine": best[keep],
                }
            )

    # Explicit cast mirrors the eval side: non-double element types are
    # widened HERE (loudly, by Spark's cast rules) rather than by an
    # implicit numpy conversion deep inside the batch.
    return train.select(
        train_id, F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(flag, out_schema)


def _semantic_contamination_bucketed(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float,
    train_id: str,
    eval_id: str,
    vec_col: str,
    n_cells: int,
    n_probe: int,
    max_iter: int = 20,
) -> DataFrame:
    """Giant-eval scale path: IVF cell join instead of a driver
    broadcast. The quantizer is fit on the EVAL side (the side being
    indexed); each train vector probes its ``n_probe`` nearest cells and
    the best eval match resolves with the same (cosine DESC, eval_id
    ASC) tie-break as the broadcast path. Same output contract:
    (train_id, eval_id, cosine), one row per flagged train doc.

    100-TB plan shape — the TRAIN side shuffles exactly once, reduced:

      1. ``operators/ivf.py::probe_cells`` picks each train vector's
         cells with no shuffle;
      2. ``operators/ivf.py::cell_best_n`` (n = 1 plus the threshold)
         scores each cell with one Gram matmul and emits only the
         flagged best-per-train rows;
      3. the cross-cell best match is a groupBy-MIN over a
         (-cosine, eval_id) struct — map-side partial combine ships
         ~|flagged train| rows per partition, never the full candidate
         set, and reproduces the (cosine DESC, eval_id ASC) tie-break
         exactly (same trick as pipeline/matching._closest_point).

    Skew note: one cell's probe set must fit one task; production cell
    counts (thousands+) keep cells narrow, and a hot cell splits by
    raising ``n_cells`` — the quantizer, not the join, is the knob.
    """
    ev = eval_df.select(
        eval_id, F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    n_cells = max(1, min(n_cells, ev.limit(n_cells).count()))
    tr = train.select(
        train_id, F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    if n_cells < 2:
        # Degenerate quantizer (eval side of 1 row, or caller asked for
        # one cell): a single cell means "probe everything" — no KMeans
        # fit (MLlib requires k >= 2), one trivial cell label on both
        # sides, the per-cell matmul is then exhaustive and exact.
        assigned = ev.withColumn("cell_id", F.lit(0))
        probes = tr.withColumn("cell_id", F.lit(0))
    else:
        assigned, cents = build_ivf_index(
            ev, n_cells=n_cells, vec_col=vec_col, id_col=eval_id,
            max_iter=max_iter,
        )
        probes = probe_cells(
            tr, cents, min(n_probe, n_cells), train_id, vec_col,
            site="operators.semantic_contamination.centroids",
            bad="semantic_contamination (bucketed): null/ragged embedding "
            "in the train vector column — filter or impute before "
            "decontamination",
        )
    cand = cell_best_n(
        probes, assigned, 1, train_id, vec_col, eval_id, vec_col,
        threshold=threshold,
        bad=f"semantic_contamination (bucketed): null/ragged embedding in "
        f"{vec_col!r} — filter or impute before decontamination",
    )
    best = cand.groupBy(train_id).agg(
        F.min(
            F.struct((-F.col("cosine")).alias("negcos"), F.col(eval_id).alias("e"))
        ).alias("__b")
    )
    return best.select(
        train_id,
        F.col("__b.e").alias(eval_id),
        (-F.col("__b.negcos")).alias("cosine"),
    )
