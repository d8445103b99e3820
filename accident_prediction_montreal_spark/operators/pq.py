"""Product quantization (PQ) for embedding compression + ADC top-k.

Beyond-reference capability (SURVEY §2.14 training-data-pipeline
family; Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011): the vector column is split into ``m`` contiguous
subspaces; each subspace gets its own small k-means codebook; a vector
is then stored as ``m`` small integer codes instead of ``dim`` floats —
at the canonical m=4/k=8 over 64-dim float32 that is 256 bytes → 4
codes, the compression that makes a 100 TB embedding corpus fit the
page cache of a modest cluster. Queries stay uncompressed: ADC
(asymmetric distance computation) builds, per query, one lookup table
of query-subvector→centroid distances per subspace, and the scan cost
per corpus row is ``m`` table lookups + ``m-1`` additions — no vector
math touches the corpus at query time.

Engine-reproducible by construction, like operators/kmeans.py (whose
assign/update steps this module composes per-subspace): deterministic
rank-based seeding, sequential-fold distances, DECIMAL-exact centroid
means — so the full PQ pipeline (train → encode → ADC scan → top-k)
has a literal ANSI-SQL value oracle (plans/similarity.py).

Scale design (100 TB):
  * train: each subspace's Lloyd update shuffles K×sub_dim rows —
    independent of corpus size; assignment is a zero-shuffle map pass
    against ONE broadcast packed-codebook row per subspace.
  * encode: a single projection computes all ``m`` argmins per row;
    the corpus at rest keeps only (id, code_0..code_{m-1}) — the
    vectors themselves are never read again by the ADC path.
  * query: LUTs are Q×m maps of K entries each — a broadcast, never a
    shuffle; the ADC scan is codes ⋈ broadcast(LUTs), candidate rows
    carry no arrays. Composes with the IVF coarse quantizer
    (operators/ivf.py) by running the same scan inside probed cells
    only (IVF-PQ, the standard billion-scale layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.vectors import dot_product
from accident_prediction_montreal_spark.operators.kmeans import pack_centroids, sq_dist


def _pack_books(codebooks: list[DataFrame]) -> DataFrame:
    """All m codebooks → ONE row with a column ``__cents_<mi>`` of
    array<struct<cell, cvec, dcc>> per book.

    The per-book form broadcast each codebook separately — m broadcast
    exchanges (and m jobs) per consumer. One tagged union packs the
    whole 〈m·k〉-row codebook set into a single broadcast row; each
    book lands in its OWN column (collect_list skips the other books'
    NULLed rows), so per-row consumers index a plain per-book array —
    no per-row filtering — and every array_min / map_from_entries
    result is value-identical to the per-book form.
    """
    tagged = None
    for mi, book in enumerate(codebooks):
        t = book.select(F.lit(mi).alias("mi"), "cell", "cvec")
        tagged = t if tagged is None else tagged.unionByName(t)
    return _pack_tagged(tagged, len(codebooks))


def _pack_tagged(tagged: DataFrame, n_books: int) -> DataFrame:
    """(mi, cell, cvec) rows → the one packed row of ``_pack_books``."""
    entry = F.struct(
        F.col("cell"),
        F.col("cvec"),
        dot_product("cvec", "cvec").alias("dcc"),
    )
    return tagged.agg(
        *[
            F.collect_list(F.when(F.col("mi") == mi, entry)).alias(
                f"__cents_{mi}"
            )
            for mi in range(n_books)
        ]
    )


def _book_entries(mi: int):
    return F.col(f"__cents_{mi}")


def _nearest(sub, dvv):
    """Packed-centroid entry → (d2, cell), the (d² ASC, cell ASC)
    argmin key of kmeans.assign_cells."""
    return lambda c: F.struct(
        sq_dist(sub, c["cvec"], dvv, c["dcc"]).alias("d2"),
        c["cell"].alias("cell"),
    )


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    sub_dim: int | None = None,
) -> list[DataFrame]:
    """Fit one deterministic-Lloyd codebook per subspace.

    Returns ``m`` centroid DataFrames (cell, cvec), subspace ``i``
    covering vector components [i·sub_dim, (i+1)·sub_dim). Seeds are
    the ``k`` smallest-id vectors' subvectors (rank-based, no RNG);
    ``n_iter`` total assignment passes with ``n_iter − 1`` DECIMAL-exact
    centroid updates between them — identical semantics to
    operators/kmeans.lloyd_kmeans, replayed per subspace by the SQL
    oracle. Subspace width is derived from the first row's length; the
    fixture contract (TESTDATA.md) fixes dim, so this is a plan-time
    constant passed by the caller via ``sub_dim`` instead of a scan —
    see pq_sub_dim(). Thin wrapper over :func:`train_books` with the
    uniform disjoint layout [(i·sub_dim, sub_dim)].
    """
    if sub_dim is None:
        sub_dim = pq_sub_dim(emb, m, vec_col)
    return train_books(
        emb,
        [(mi * sub_dim, sub_dim) for mi in range(m)],
        k=k,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
    )


def train_books(
    emb: DataFrame,
    specs: list[tuple[int, int]],
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> list[DataFrame]:
    """Fit one deterministic-Lloyd codebook per (offset, width) spec —
    books may overlap (IVF-PQ's coarse full-dim book alongside the m
    subspace books), so ONE corpus pass per iteration trains them ALL.

    All fits are FUSED into one corpus pass per iteration: the per-book
    loop form trained each book through its own assign/update lineage,
    so every iteration cost one corpus scan and one posexplode shuffle
    PER BOOK — and because consumers (pq_encode's packed broadcasts,
    the ADC LUT build) each re-evaluate their codebook argument, the
    whole train replayed once per consumer. Here one projection
    computes every book's argmin per row, one posexplode keyed
    (mi, cell, dim) updates every book in a single K·Σwidth-row
    shuffle, and the final (mi, cell, cvec) table is persisted
    (cachereg lifecycle) so each returned book is a filter over the
    cached 〈n_books·k〉-row result instead of a fresh Lloyd replay.
    Per-book VALUES are bit-identical to a standalone train: same
    seeds (one shared TakeOrdered of the k smallest ids), same
    fold-order distances and (d² ASC, cell ASC) tie-break per book,
    and the DECIMAL(24,9) component sums are order-independent by
    construction.
    """
    n_books = len(specs)
    vecs = emb.select(id_col, vec_col)
    seeds = vecs.orderBy(F.col(id_col).asc()).limit(k)
    offsets = F.array(*[F.lit(o) for o, _ in specs])
    widths = F.array(*[F.lit(w) for _, w in specs])
    # (mi, cell, cvec) seed table: every book seeds from the same k
    # smallest-id vectors, so one TakeOrdered feeds all books.
    cents_all = seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_books - 1))).alias("mi"),
        F.col(id_col).alias("cell"),
        F.col(vec_col).alias("__v"),
    ).select(
        "mi",
        "cell",
        F.slice(
            F.col("__v"),
            F.element_at(offsets, F.col("mi") + 1) + 1,
            F.element_at(widths, F.col("mi") + 1),
        ).alias("cvec"),
    )
    for _ in range(n_iter - 1):
        assigned = _assign_books(vecs, cents_all, specs, vec_col)
        cents_all = _update_books(assigned, specs, vec_col)
    # site key carries the geometry: one query may train several codebook
    # sets with different layouts; a single shared site would unpersist
    # one set while its consumers are still lazy.
    spec_key = ",".join(f"{o}:{w}" for o, w in specs)
    site = f"operators.pq.train_books[{spec_key},k={k}]"
    # coalesce(1): the table is <= n_books*k rows by construction
    # (corpus-size independent), but its lineage ends in a 32-partition
    # groupBy and CACHED plans skip AQE coalescing — without this every
    # consumer pays a 32-task read of a 512-row cache.
    cents_all = cachereg.generation(site).persist(cents_all.coalesce(1))
    return [
        cents_all.filter(F.col("mi") == mi).select("cell", "cvec")
        for mi in range(n_books)
    ]


def _assign_books(
    vecs: DataFrame,
    cents_all: DataFrame,
    specs: list[tuple[int, int]],
    vec_col: str,
) -> DataFrame:
    """One projection → (vec, __cell_0..__cell_{n-1}): every book's
    argmin against ONE broadcast packed row of all books' centroids.
    Same d² expression shape and (d² ASC, cell ASC) tie-break as
    kmeans.assign_cells, evaluated per book slice."""
    packed = _pack_tagged(cents_all, len(specs))
    df = vecs.crossJoin(F.broadcast(packed))

    cols = [F.col(vec_col)]
    for mi, (off, width) in enumerate(specs):
        sub = F.slice(F.col(vec_col), off + 1, width)
        dvv = dot_product(sub, sub)
        best = F.array_min(F.transform(_book_entries(mi), _nearest(sub, dvv)))
        cols.append(best["cell"].alias(f"__cell_{mi}"))
    return df.select(*cols)


def _update_books(
    assigned: DataFrame, specs: list[tuple[int, int]], vec_col: str
) -> DataFrame:
    """Every book's DECIMAL-exact centroid update in ONE posexplode +
    groupBy(mi, cell, dim) shuffle (K·Σwidth output rows, corpus-size
    independent) — kmeans.update_centroids semantics per book.

    Two per-row forms behind the same explode (the groupBy sees
    identical rows either way):
    * UNIFORM DISJOINT specs [(i·w, w)] — the PQ subspace layout — map
      each component with two integer ops (mi = fdim/w, dim = fdim%w):
      the cheapest possible per-row work on the Θ(|corpus|·dim)
      exploded stream (a first cut of the generalized form paid a
      books-wide array build + filter per component here — measured
      ~1.5x on the whole train at sf0.1, r15).
    * OVERLAPPING books (the fused IVF-PQ coarse + subspace train) —
      each component fans out to every covering book via an in-
      expression array filter. Components outside every book (an
      explicit sub_dim with a trailing remainder) fan out to nothing,
      which is also what keeps element_at in bounds under ANSI mode.
    """
    cell_cols = [c for c in assigned.columns if c.startswith("__cell_")]
    m_cells = F.array(*[F.col(c) for c in cell_cols])
    per_dim = assigned.select(
        m_cells.alias("__cells"), F.posexplode(F.col(vec_col)).alias("fdim", "val")
    )
    uniform = len({w for _, w in specs}) == 1 and [o for o, _ in specs] == [
        i * specs[0][1] for i in range(len(specs))
    ]
    if uniform:
        sub_dim = specs[0][1]
        exploded = per_dim.filter(
            # Trailing vector dims beyond n_books*sub_dim belong to NO
            # book: a caller passing an explicit sub_dim with a
            # remainder would otherwise drive element_at out of bounds
            # under ANSI mode. Trivially true on the standard divisible
            # path (pq_sub_dim enforces it).
            F.col("fdim") < len(cell_cols) * sub_dim
        ).select(
            (F.col("fdim") / sub_dim).cast("int").alias("mi"),
            F.element_at(
                F.col("__cells"), (F.col("fdim") / sub_dim).cast("int") + 1
            ).alias("cell"),
            (F.col("fdim") % sub_dim).alias("dim"),
            "val",
        )
    else:
        entries = F.array(
            *[
                F.when(
                    (F.col("fdim") >= off) & (F.col("fdim") < off + width),
                    F.struct(
                        F.lit(mi).alias("mi"),
                        F.element_at(F.col("__cells"), mi + 1).alias("cell"),
                        (F.col("fdim") - off).alias("dim"),
                        F.col("val").alias("val"),
                    ),
                )
                for mi, (off, width) in enumerate(specs)
            ]
        )
        exploded = per_dim.select(
            F.explode(F.filter(entries, lambda e: e.isNotNull())).alias("__e")
        ).select("__e.*")
    sums = exploded.groupBy("mi", "cell", "dim").agg(
        F.sum(F.round(F.col("val"), 9).cast("decimal(24,9)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    comp = sums.select(
        "mi",
        "cell",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n"), 9).alias("cval"),
    )
    return comp.groupBy("mi", "cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))),
            lambda x: x["cval"],
        ).alias("cvec")
    )


def pq_sub_dim(emb: DataFrame, m: int, vec_col: str = "vec") -> int:
    """Subspace width from the column's declared element count when the
    caller knows it, else a bounded 1-row peek (plan-time constant; the
    schema itself does not carry array length)."""
    row = emb.select(F.size(F.col(vec_col)).alias("n")).limit(1).collect()
    dim = int(row[0]["n"]) if row else 0
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    return dim // m


def pq_encode(
    emb: DataFrame,
    codebooks: list[DataFrame],
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """One projection → (id, [keep_cols...,] code_0..code_{m-1}); zero
    shuffle.

    Every codebook is packed to a single array-of-structs row
    (pack_centroids) and broadcast; the per-subspace argmin is
    array_min over transform with the (d² ASC, cell ASC) tie-break —
    the compressed corpus representation, 1 small int per subspace.
    ``keep_cols`` rides extra columns through (e.g. the coarse cell_id,
    so the at-rest IVF-PQ index is ONE table and the query path never
    joins two corpus-sized relations).
    """
    df = emb.crossJoin(F.broadcast(_pack_books(codebooks)))

    outs = [F.col(id_col)] + [F.col(c) for c in (keep_cols or [])]
    for mi in range(len(codebooks)):
        sub = F.slice(F.col(vec_col), mi * sub_dim + 1, sub_dim)
        dvv = dot_product(sub, sub)
        best = F.array_min(F.transform(_book_entries(mi), _nearest(sub, dvv)))
        outs.append(best["cell"].alias(f"code_{mi}"))
    return df.select(*outs)


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[DataFrame],
    sub_dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ADC scan: per-query distance LUTs, then top-k over code lookups.

    LUT build: queries × packed codebooks (broadcast, Q rows out), one
    map<cell, d²(q_sub, centroid)> per subspace. Scan: codes ⋈
    broadcast(LUT rows); the approximate distance is the fixed-order
    sum of ``m`` map lookups (element_at), mirrored left-to-right by
    the oracle so IEEE addition order is identical. Top-k per query by
    (adc ASC, id ASC) row_number.
    """
    return _adc_scan(
        codes, queries, codebooks, sub_dim, k, id_col, query_id_col, query_vec_col
    )


def _adc_scan(
    rows: DataFrame,
    queries: DataFrame,
    codebooks: list[DataFrame],
    sub_dim: int,
    k: int,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    on: str | None = None,
) -> DataFrame:
    """Per-query LUTs, the ADC sum over ``rows``' codes and the top-k
    window. ``on`` joins the broadcast LUT rows on that query key (the
    IVF-PQ candidates carry one); without it every row meets every
    query."""
    q = queries.crossJoin(F.broadcast(_pack_books(codebooks)))

    def _lut_entry(sub, dqq):
        return lambda c: F.struct(
            c["cell"].alias("cell"),
            sq_dist(sub, c["cvec"], dqq, c["dcc"]).alias("d"),
        )

    luts = [F.col(query_id_col)]
    for mi in range(len(codebooks)):
        sub = F.slice(F.col(query_vec_col), mi * sub_dim + 1, sub_dim)
        dqq = dot_product(sub, sub)
        luts.append(
            F.map_from_entries(
                F.transform(_book_entries(mi), _lut_entry(sub, dqq))
            ).alias(f"__lut_{mi}")
        )
    lut_rows = F.broadcast(q.select(*luts))

    if on is None:
        paired = rows.crossJoin(lut_rows)
    else:
        paired = rows.join(lut_rows, on)
    adc = F.element_at(F.col("__lut_0"), F.col("code_0"))
    for mi in range(1, len(codebooks)):
        adc = adc + F.element_at(F.col(f"__lut_{mi}"), F.col(f"code_{mi}"))
    scored = paired.select(query_id_col, id_col, adc.alias("adc_d2"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_d2").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_d2", "rank")
    )


def coarse_probes(
    queries: DataFrame,
    coarse_cents: DataFrame,
    n_probe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Per-query n_probe nearest coarse cells by squared L2 — the IVF
    probe-selection step, zero shuffle: centroids pack to ONE broadcast
    row, the per-query ranking is array_sort over (d², cell) structs
    inside a single projection, and the result explodes to
    (query_id, cell) rows (Q·n_probe — tiny), ready for a broadcast
    equi-join against the cell-assigned corpus. Tie-break (d² ASC,
    cell ASC), the same total order the SQL oracle's ROW_NUMBER uses.
    """
    packed = pack_centroids(coarse_cents)
    q = queries.crossJoin(F.broadcast(packed))
    dqq = dot_product(query_vec_col, query_vec_col)
    ranked = F.slice(
        F.array_sort(F.transform(F.col("__cents"), _nearest(F.col(query_vec_col), dqq))),
        1,
        n_probe,
    )
    return q.select(
        query_id_col, F.explode(ranked).alias("__p")
    ).select(query_id_col, F.col("__p.cell").alias("cell"))


def ivfpq_topk(
    queries: DataFrame,
    coarse_cents: DataFrame,
    codes: DataFrame,
    codebooks: list[DataFrame],
    sub_dim: int,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ (no-residual variant): ADC top-k restricted to each
    query's ``n_probe`` coarse cells — the standard billion-scale ANN
    layout (faiss IndexIVFPQ shape; residual encoding is a drop-in
    refinement, see module docstring).

    ``codes`` must carry ``cell_col`` — the at-rest IVF-PQ index is ONE
    table of (id, cell, code_0..m-1) built by pq_encode(keep_cols=
    ["cell"]), so candidate selection never joins two corpus-sized
    relations. Scan cost per query: |corpus| · n_probe / n_cells code
    rows, each paying m map lookups — neither the vectors nor the
    unprobed cells are ever read. Plan shape: probes (Q·n_probe rows)
    and LUTs (Q rows) both broadcast; candidate selection is a
    broadcast HASH join on cell (the pruned-scan shape — with the
    index written partitioned by cell it becomes partition pruning at
    rest); the top-k Window gets WindowGroupLimit pushdown.
    Approximate when a true neighbor lives in an unprobed cell;
    n_probe = n_cells is exact-ADC (equals pq_adc_topk).
    """
    probes = coarse_probes(
        queries, coarse_cents, n_probe, query_id_col, query_vec_col
    )
    # candidate codes: the cell-carrying index ⋈ broadcast probe pairs
    cand = codes.join(F.broadcast(probes), probes["cell"] == codes[cell_col]).drop(
        probes["cell"]
    )
    return _adc_scan(
        cand, queries, codebooks, sub_dim, k, id_col, query_id_col,
        query_vec_col, on=query_id_col,
    )
