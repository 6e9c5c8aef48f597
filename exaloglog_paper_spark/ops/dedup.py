"""Deduplication operators for training-data pipelines.

- exact duplicates via content digest (md5 — shared byte-for-byte with the
  DuckDB oracle)
- MinHash + LSH banding near-duplicate candidates. Minhash values are kept
  as *hex-string* minima of md5(i || '|' || shingle) so every step is
  bit-identical across engines (no float, no engine-specific 64-bit hash) —
  the whole pipeline is therefore SQL-oracle-checkable.
- SimHash (64-bit) with banded hamming candidate search. Bits are derived
  from md5 nibbles (bit b = bit (b % 4), LSB-first, of hex nibble (b // 4))
  so the signature — and therefore the whole pipeline — is bit-identical in
  DuckDB and fully SQL-oracle-checked (see _simhash_chunk_cols).
- embedding near-duplicates: exact cosine threshold pairs (see
  ops/similarity.py for the ANN machinery).

Scale notes: LSH candidate generation is a self-equi-join on (band, bucket)
— no pairwise cross product across the corpus ever materializes, and
signatures are tiny (8 hex strings/doc), so the join input is ~100
bytes/doc at 10^12 docs. The residual quadratic risk is a single DEGENERATE
bucket (|B| docs sharing a band hash emit |B|²/2 join-output pairs — AQE
cannot fix join *output* size), so both band joins cap bucket size
(``max_bucket_size``, default 2000): oversized buckets bypass the all-pairs
join and emit linear hub-star edges instead (min-id hub -> member), which
keeps mass-duplicate clusters connected for downstream dedup grouping at
|B|-1 rows instead of |B|²/2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

NUM_MINHASHES = 8
BAND_SIZE = 2
MAX_BUCKET_SIZE = 2000


def _cap_bucket_size(
    exploded: DataFrame,
    max_bucket_size: int | None,
    keys,
    id_col: str,
    payload_cols=(),
    probe_limit: int = 8192,
):
    """Quadratic-blowup guard for the banded self-joins.

    Buckets larger than ``max_bucket_size`` are excluded from the all-pairs
    self-join (|B|²/2 output rows for one degenerate bucket — a failure AQE
    cannot fix because the blowup is join *output*, not shuffle skew).
    Instead of silently dropping them — mass-duplicate clusters are exactly
    what a dedup pass must catch — each oversized bucket emits LINEAR star
    edges (min-id hub -> every member), which preserve the bucket's
    connected component for downstream grouping/verification at |B|-1 rows
    instead of |B|²/2.

    Returns ``(kept_exploded, star_pairs)``; ``star_pairs`` has columns
    (id_a, id_b, a_<payload>…, b_<payload>…) with id_a < id_b, or None when
    capping is disabled.

    Plan shape (r6): ONE tiny hash-aggregate over the (persisted) band
    table computes per-bucket size + hub id + hub payload, and the
    (usually EMPTY) oversized-bucket set is joined back as a BROADCAST —
    the former window formulation re-executed an exchange+sort+window on
    EACH side of the downstream self-join plus once more for the star
    branch (3 full shuffles+sorts of the band table per query). Results
    are identical: ``kept`` is the same row set (anti-join against
    oversized keys == size filter) and the star hub/payload is the
    min-id row's, exactly what first() over the id-ordered window picked
    (ids are unique within a bucket, so min_by is unambiguous).
    """
    if max_bucket_size is None:
        return exploded, None
    keys = list(keys)
    agg = [F.expr("count(1) AS __bsz"), F.expr(f"min({id_col}) AS __hub")]
    agg += [
        F.expr(f"min_by({c}, {id_col}) AS __hub_{c}") for c in payload_cols
    ]
    big = (
        exploded.groupBy(*keys)
        .agg(*agg)
        .filter(F.col("__bsz") > max_bucket_size)
    )
    # Driver-side adaptive probe (r6): ONE aggregate pass over the
    # (caller-persisted) band table — the same aggregate the lazy plan
    # evaluated anyway — fetches the oversized-bucket set up front, and the
    # plan adapts to what the data actually contains (the outcome is a
    # property of the data, so the result set is unchanged by
    # construction):
    # - EMPTY (the common case): the kept-filter is provably the identity
    #   and the star branch provably empty, so the whole left-join +
    #   filter + star scaffolding (3 broadcast exchanges + 4 extra scans
    #   of the band table per query, ~0.5-0.9 s of stage dispatch at
    #   sf0.1 measured) is skipped outright.
    # - small non-empty (bounded by ``probe_limit`` rows ≈ 1 MB driver
    #   memory): the probe's own rows become a LocalRelation; ``kept`` is a
    #   broadcast LEFT-ANTI join (whose size estimate equals the left side,
    #   so the downstream self-join keeps the same static plan as the empty
    #   case — a shared left-outer + isNull filter here degraded Catalyst's
    #   stats and flipped five downstream joins to SortMergeJoin, measured
    #   +0.3-0.5 s) and the star branch a broadcast inner join reusing the
    #   same LocalRelation build side. The aggregate is NOT recomputed.
    # - above ``probe_limit`` (pathological mass-duplicate corpus): fall
    #   back to the lazy aggregate + shared left-outer broadcast exactly as
    #   before — never collect an unbounded row set to the driver.
    head = big.take(probe_limit + 1)
    if not head:
        return exploded, None

    def star_edges(members: DataFrame) -> DataFrame:
        """Members of oversized buckets -> hub-star edges."""
        return members.selectExpr(
            "__hub AS id_a",  # hub = bucket min id
            f"{id_col} AS id_b",
            *[f"__hub_{c} AS a_{c}" for c in payload_cols],
            *[f"{c} AS b_{c}" for c in payload_cols],
        ).filter(F.col("id_a") != F.col("id_b"))

    if len(head) <= probe_limit:
        from .agg import local_df

        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in big.schema.fields
        )
        big_local = F.broadcast(local_df(exploded.sparkSession, head, ddl))
        # using-columns joins move the keys first — restore the input order
        kept = exploded.join(big_local, keys, "left_anti").select(
            *exploded.columns
        )
        return kept, star_edges(exploded.join(big_local, keys, "inner"))
    # ONE left broadcast join serves both branches (kept = no oversized
    # match, star = matched members), so the two branches share a single
    # BroadcastExchange via ReuseExchange instead of building two
    # different broadcasts from the same aggregate.
    j = exploded.join(F.broadcast(big), keys, "left")
    kept = j.filter(F.col("__bsz").isNull()).select(*exploded.columns)
    return kept, star_edges(j.filter(F.col("__bsz").isNotNull()))


def with_content_digest(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("content_digest", F.md5(F.col(text_col)))


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_digest, dup_count, keeper)."""
    return (
        with_content_digest(df, text_col)
        .groupBy("content_digest")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("keeper"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per identical content (keep-first dedup)."""
    w = Window.partitionBy("content_digest").orderBy(F.col(id_col).asc())
    return (
        with_content_digest(df, text_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "content_digest")
    )


def minhash_signatures(
    words: DataFrame,
    id_col: str = "doc_id",
    word_col: str = "word",
    num_hashes: int = NUM_MINHASHES,
) -> DataFrame:
    """Per-doc minhash signature over the word set.

    h_i(doc) = min over words of md5(i || '|' || word), kept as the 16-char
    hex prefix (string minima are engine-portable). Output:
    (id, mh_0..mh_{n-1}).
    """
    # One hash-aggregate with num_hashes min() columns: no row explosion, no
    # pivot, a single shuffle on id_col with map-side partial mins. min() over
    # the word multiset equals min() over the word set, so no distinct needed.
    #
    # The minima are taken over the SIGNED-64 value of the hex prefix with
    # the sign bit flipped, not over the string: min() on strings has no
    # mutable-primitive aggregation buffer, so Spark planned a
    # SortAggregate — two full sorts of the exploded word table per build.
    # Fixed-width lowercase hex is order-isomorphic to the unsigned 64-bit
    # value, and flipping the sign bit makes signed order match unsigned
    # order, so min() over the flipped longs selects the SAME word's hash
    # in a plain HashAggregate; the hex string is then reconstructed
    # exactly (lpad(lower(hex(...)))) in the post-aggregation projection.
    # expressions are built as SQL strings (one py4j round trip each, not
    # one per Column operation): plan-construction latency is driver-side
    # wall time on every execution, and the chatty Column-API form cost
    # ~100 round trips here alone (guide §7.3: planning IS runtime)
    sign = "-9223372036854775808L"  # Long.MIN_VALUE
    flipped_mins = [
        F.expr(
            # negative toBase: signed 64-bit conv result, never overflows
            f"min(cast(conv(substring(md5(concat('{i}|', {word_col})), 1, 16),"
            f" 16, -10) as bigint) ^ {sign}) AS __f_{i}"
        )
        for i in range(num_hashes)
    ]
    agg = words.groupBy(id_col).agg(*flipped_mins)
    return agg.selectExpr(
        id_col,
        *[
            f"lpad(lower(hex(__f_{i} ^ {sign})), 16, '0') AS mh_{i}"
            for i in range(num_hashes)
        ],
    )


def band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, band, bucket) rows: each band of ``band_size`` minhashes hashed
    to its md5 bucket. THE single definition of the banding convention —
    shared by the candidate join and the mass-duplicate observability query
    so they can never drift apart."""
    num_bands = num_hashes // band_size
    bands = ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {cols})) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"mh_{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(num_bands)
    )
    return signatures.select(
        id_col, F.expr(f"explode(array({bands}))").alias("bb")
    ).selectExpr(id_col, "bb.band AS band", "bb.bucket AS bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing >= 1 LSH band bucket.

    Bands of ``band_size`` minhashes are hashed to a bucket; a self-join on
    (band, bucket) yields candidates with id_a < id_b (distinct). Buckets
    larger than ``max_bucket_size`` bypass the all-pairs join and emit
    hub-star edges instead (see _cap_bucket_size) — the |B|² output of one
    degenerate bucket is the one quadratic failure mode of banded LSH at
    10^12 docs, while the star keeps its connected component intact.
    Unless ``max_bucket_size`` is None, building this DataFrame runs one
    Spark job: ``_cap_bucket_size``'s ``take()`` probe of the bucket-size
    aggregate, which also materializes the lazily checkpointed band table.
    """
    # LAZY localCheckpoint the band table: the self-join would otherwise
    # recompute the full word-explode + md5 signature build for BOTH sides
    # (no ReusedExchange fires across the a/b aliases). Like the persist it
    # replaces (r6), materialization folds into the FIRST consumer job (the
    # cap probe's take()) — one pass over the build — but the logical plan
    # truncates to a Scan ExistingRDD, so the probe/self-join/distinct
    # analyses and every AQE replan walk a shallow tree instead of the
    # signature subplan (~95 ms per deep-join analysis; eager checkpointing
    # here measured WORSE — it adds a second pass over the build — and
    # Dataset.checkpoint preserves the origin plan's stats, so the
    # self-join keeps its broadcast strategy). ~50 bytes x 4 bands/doc, so
    # this is the production shape at 10^12 docs too (signatures are
    # checkpointed, candidates joined from the checkpoint); guide §5's
    # fault-tolerance condition applies as in jaccard_verified_pairs.
    exploded = band_table(signatures, id_col, num_hashes, band_size).localCheckpoint(
        eager=False
    )
    exploded, star = _cap_bucket_size(
        exploded, max_bucket_size, ("band", "bucket"), id_col
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    if star is not None:
        pairs = pairs.unionByName(star.select("id_a", "id_b"))
    return pairs.distinct()


def _candidate_word_sets(
    words: DataFrame, cand_ids: DataFrame, id_col: str, word_col: str
) -> DataFrame:
    """Lazy per-candidate-doc distinct word sets: broadcast-semi-prune the
    word table to candidate docs, then ONE collect_set row per doc.

    The explicit broadcast matters: the candidate-id list is the small side
    by the documented contract, but Catalyst's size estimate for a
    union+distinct over the candidates is far too large, so the planner
    chose a SortMergeJoin LeftSemi — shuffling AND sorting the full word
    table to prune it. Broadcasting reaches the word scan as a broadcast
    semi-join: zero shuffle of the big side. Kept as a named helper so
    tests/test_plans.py can pin this subplan — the eager checkpoint in
    jaccard_verified_pairs hides it from the final DataFrame's explain.
    """
    return (
        words.join(F.broadcast(cand_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.expr(f"collect_set({word_col}) AS wset"))
        .withColumn("sz", F.expr("size(wset)"))
    )


def jaccard_verified_pairs(
    words: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    word_col: str = "word",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact word-set Jaccard for candidate pairs; keeps pairs >= threshold.

    Plan: SEMI-JOIN-PRUNE the word table to docs that appear in the
    candidate list, aggregate each surviving doc's distinct words into ONE
    array row (single shuffle on id), then drive two id-equi-joins from the
    candidate list and compute |A∩B| with JVM ``array_intersect`` inside
    whole-stage codegen. The former word-level join exploded candidates x
    words into ~10^9 intermediate rows at sf0.1 (29-45 s); the array plan
    shuffles one row per doc + one row per candidate pair. The semi-join
    prune is the 100 TB contract: without it the ``collect_set`` shuffled
    and persisted distinct-word arrays for the WHOLE corpus to verify a
    candidate set that is typically orders of magnitude smaller — the
    candidate-id list is small enough to broadcast, so the prune reaches
    the word scan as a broadcast semi-join, and only candidate docs are
    aggregated or cached. Building this DataFrame runs Spark jobs: the
    eager ``localCheckpoint`` of ``candidates`` (which executes the whole
    candidate pipeline) and then that of the candidate word sets.
    """
    # candidates feed both the id-prune and the verification joins. An EAGER
    # localCheckpoint (not persist) materializes the same rows the lazy
    # persist would, but also TRUNCATES the logical plan: the three
    # verification joins below would otherwise each re-analyze the full
    # LSH subtree (~95 ms of driver-side DeduplicateRelations per deep
    # join, measured r6), and every AQE stage re-optimization of the
    # verification job would re-walk it. Fault-tolerance trade per guide
    # §5: lineage is cut, so losing a checkpoint block fails the job
    # instead of recomputing — acceptable for a batch intermediate that is
    # orders of magnitude smaller than the corpus. Measured A/B at sf0.1:
    # jaccard 3.75 -> 2.79 s, ngram 2.67 -> 2.18 s (with the ws
    # checkpoint below); results row-identical.
    candidates = candidates.localCheckpoint(eager=True)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # same eager-checkpoint rationale as candidates: ws is read by BOTH
    # sides of the pair join below; checkpointing makes that self-join's
    # analysis and AQE replanning shallow. The broadcast dependency
    # (cand_ids <- candidates) already serialized these stages under the
    # lazy persist, so eagerness costs no parallelism.
    ws = _candidate_word_sets(words, cand_ids, id_col, word_col).localCheckpoint(
        eager=True
    )
    a = ws.selectExpr(f"{id_col} AS id_a", "wset AS ws_a", "sz AS sz_a")
    b = ws.selectExpr(f"{id_col} AS id_b", "wset AS ws_b", "sz AS sz_b")
    inter = F.expr("size(array_intersect(ws_a, ws_b))")
    joined = candidates.join(a, "id_a").join(b, "id_b")
    if threshold > 0:
        # necessary size condition of J >= t: |A∩B| <= min(|A|,|B|) and
        # |A∪B| >= max(|A|,|B|), so J <= min/max — pairs with
        # min_sz < t*max_sz cannot pass. The filter runs BEFORE the
        # array_intersect inside the same whole-stage-codegen span, so the
        # O(|A|+|B|) hash-set intersect is skipped for every pruned pair
        # (~51% of LSH candidates at sf0.1; the dominant verification cost
        # at scale). Provably result-preserving — the exact-jaccard filter
        # below is unchanged.
        joined = joined.filter(
            (F.col("sz_a") >= threshold * F.col("sz_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
        )
    return (
        joined
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (md5-nibble bit derivation — engine-portable, so the whole pipeline
# is reproducible by the DuckDB SQL oracle)
# ---------------------------------------------------------------------------


def _simhash_chunk_cols(id_col: str, word_col: str):
    """Shared SimHash convention: bit b of h(word) is bit (b % 4), LSB-first,
    of hex nibble (b // 4) of md5(word). Returns ``(sums, chunks)``: the
    single array-valued sign-sum aggregate expression and the four 16-bit
    chunk projection strings that index it.

    Expressions are SQL strings (a handful of py4j round trips instead of
    ~600 Column-API calls — plan construction is per-execution driver wall
    time), and nibbles decode via ascii arithmetic rather than conv()
    string parses; Catalyst's common-subexpression elimination dedups the
    repeated md5/ascii terms at codegen exactly as it did for the shared
    Column objects."""

    def nib(b):
        a = f"ascii(substring(md5({word_col}), {b // 4 + 1}, 1))"
        return f"(CASE WHEN {a} >= 97 THEN {a} - 87 ELSE {a} - 48 END)"

    # the 64 sign-sums ride in ONE array-valued aggregate expression (a
    # single parse + py4j round trip; the HashAggregate still maintains
    # 64 sum buffers underneath) and the chunk projection indexes s[b]
    sums = F.expr(
        "array("
        + ", ".join(
            f"sum(((shiftright({nib(b)}, {b % 4}) & 1) * 2 - 1))"
            for b in range(64)
        )
        + ") AS s"
    )
    chunks = [
        "cast(("
        + " + ".join(
            f"shiftleft(CASE WHEN s[{16 * c + j}] > 0 THEN 1 ELSE 0 END, {j})"
            for j in range(16)
        )
        + f") as int) AS chunk_{c}"
        for c in range(4)
    ]
    return sums, chunks


def simhash_signatures(words: DataFrame, id_col: str = "doc_id", word_col: str = "word") -> DataFrame:
    """64-bit SimHash per document as 4 x 16-bit chunks from md5-nibble sign
    sums. Entirely JVM expressions (no Python); bit convention shared with
    the SQL oracle (see _simhash_chunk_cols)."""
    sums, chunks = _simhash_chunk_cols(id_col, word_col)
    bit_sums = words.groupBy(id_col).agg(sums)
    return bit_sums.selectExpr(id_col, *chunks)


def simhash_near_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Hamming-near pairs via 4x16-bit band blocking (any pair within
    hamming distance <= 3 shares at least one exact 16-bit band). Oversized
    band buckets bypass the all-pairs self-join and emit hub-star edges
    instead (see _cap_bucket_size); the hamming filter applies to both.
    Unless ``max_bucket_size`` is None, building this DataFrame runs one
    Spark job: ``_cap_bucket_size``'s ``take()`` probe, which also
    materializes the lazily checkpointed band table."""
    band_arr = ", ".join(f"struct({i} AS band, chunk_{i} AS chunk)" for i in range(4))
    chunk_cols = [f"chunk_{i}" for i in range(4)]
    # lazy localCheckpoint: the a/b self-join would recompute the
    # 64-aggregate signature build twice otherwise (same rationale and
    # same single-pass + plan-truncation trade as lsh_candidate_pairs)
    ex = (
        signatures.selectExpr(
            id_col, *chunk_cols, f"explode(array({band_arr})) AS bb"
        )
        .selectExpr(id_col, *chunk_cols, "bb.band AS band", "bb.chunk AS chunk")
        .localCheckpoint(eager=False)
    )
    ex, star = _cap_bucket_size(
        ex, max_bucket_size, ("band", "chunk"), id_col, chunk_cols
    )
    a, b = ex.alias("a"), ex.alias("b")
    cand = a.join(
        b,
        F.expr(f"a.band = b.band AND a.chunk = b.chunk AND a.{id_col} < b.{id_col}"),
    ).selectExpr(
        f"a.{id_col} AS id_a",
        f"b.{id_col} AS id_b",
        *[f"a.chunk_{i} AS ca_{i}" for i in range(4)],
        *[f"b.chunk_{i} AS cb_{i}" for i in range(4)],
    )
    if star is not None:
        cand = cand.unionByName(
            star.selectExpr(
                "id_a",
                "id_b",
                *[f"a_chunk_{i} AS ca_{i}" for i in range(4)],
                *[f"b_chunk_{i} AS cb_{i}" for i in range(4)],
            )
        )
    cand = cand.distinct()
    hamming = " + ".join(f"bit_count(ca_{i} ^ cb_{i})" for i in range(4))
    return (
        cand.withColumn("hamming", F.expr(f"cast({hamming} as long)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def drop_near_duplicates(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup pipeline's terminal op: keep one representative per
    near-dup component (its min id == the component label), drop the rest.

    ``components`` is the (id, component) output of
    :func:`connected_components`. Docs in no component are kept. The full
    corpus is scanned once; the join strategy for the loser list is left
    to AQE — on real corpora near-dup drop rates reach 10-50%, so a forced
    broadcast of billions of loser ids would OOM where a shuffled anti-join
    (or AQE's own runtime broadcast when the list turns out small) degrades
    gracefully.
    """
    losers = components.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an (id_a, id_b) pair table: one
    (id, component) row per vertex, component = min id reachable.

    Min-label propagation with POINTER JUMPING: each round (a) joins every
    vertex's current label against its neighbors' and keeps the minimum,
    then (b) shortcuts label-of-label (component' = label(component)), which
    halves remaining path lengths, so convergence is O(log diameter) rounds
    — not the O(diameter) of plain neighbor propagation, which would
    silently under-merge long near-dup chains at max_iterations. The LSH
    star edges additionally keep mass-duplicate clusters at diameter 2 by
    construction. If the label table still changes after ``max_iterations``
    rounds, a ``RuntimeError`` is raised — a split component is a silent
    correctness bug for dedup, never an acceptable truncation.

    Each round is one shuffle of (vertex, label) pairs; each round's labels
    are checkpointed, truncating BOTH execution lineage and the logical plan
    — persist alone leaves the plan growing per round and Catalyst
    re-analysis goes super-linear after a handful of iterations.

    ``checkpoint_dir``: when None (default, right for local/interactive
    use), rounds use ``localCheckpoint`` — fast, but blocks live on
    executors non-replicated, so an executor loss mid-iteration kills the
    job. On a real cluster pass a (DFS) directory: each round's labels are
    spilled to ``{checkpoint_dir}/cc_round_{i}`` parquet and re-read, making
    every round durable and the whole iteration resumable after executor
    loss. Label tables are (id, component) longs/strings — KB-to-GB even at
    10^12 docs' near-dup subgraph, so the parquet round-trip is cheap
    relative to the edge join.
    """
    round_no = [0]

    def ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{checkpoint_dir}/cc_round_{round_no[0]}"
        round_no[0] += 1
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    edges = ckpt(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    labels = ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(
            neighbor_min.withColumnRenamed("src", "id"), "id", "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", "component")
            ).alias("component"),
        )
        # pointer jumping: component' = label(component). Labels only ever
        # decrease and label(x) <= x, so the shortcut is monotone-safe.
        parent = labels.select(
            F.col("id").alias("component"), F.col("component").alias("parent")
        )
        new_labels = ckpt(
            propagated.join(parent, "component", "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("parent", "component")
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — with pointer jumping that means component diameter "
            f"> 2^{max_iterations}; raise max_iterations"
        )
    return labels
