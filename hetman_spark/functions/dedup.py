"""Deduplication operators for web-scale corpora.

Every tier is a DataFrame plan that survives 100 TB:

- exact_dedup: hash-groupBy on a content hash (one shuffle of
  (hash, id) pairs only — never shuffles the text).
- incremental_dedup_bloom: batch-vs-corpus anti-join with a Bloom
  pre-pass that prunes the corpus map-side.
- MinHash LSH: shingle -> minhashes -> band table -> bucket_pairs.
  Two band tables: minhash_lsh_candidates (xxhash64 members, the
  pipeline's --neardup path) and md5_minhash_bands (md5 members, which
  any SQL engine recomputes).
- simhash: 60-bit md5 similarity hash via per-word bit-voting;
  simhash_dedup groups identical signatures, simhash_near_pairs finds
  Hamming distance <= k through bit-chunk bands and bucket_pairs.
- ngram_jaccard: exact Jaccard over word n-grams for candidate pairs
  (the verification stage after LSH).
- connected_components / dedup_clusters: transitive clustering of the
  candidate-pair graph, one keeper per cluster.
- line_dedup: CCNet line-level dedup.

bucket_pairs is the one candidate-pair self-join: every band or
bucket table (MinHash bands, SimHash chunks, hyperplane cells of
similarity.hyperplane_code_int) pairs up through it, so the cross
product never materializes and the hot-bucket cap lives in one place.

Hashes are xxhash64/md5 (Spark built-ins, deterministic across runs
and cluster sizes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hetman_spark.session import release


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keeper_id, n_copies,
    member_ids).  Only (hash, id) pairs shuffle."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def bloom_bitset(
    df: DataFrame, key_col: str, n_bits: int = 1 << 18, k: int = 5
) -> list[int]:
    """Build a Bloom filter over df[key_col] DISTRIBUTED and return it
    as a packed list of 63-bit words (63, not 64 — ANSI mode throws on
    BIGINT sign-bit overflow, the simhash lesson).

    Bit positions are pmod(xxhash64(key, i), n_bits) for i in 0..k-1 —
    a Spark built-in computable identically JVM-side at membership-test
    time, so neither build nor probe ever leaves codegen.  The build
    collects only the DISTINCT SET BITS (<= k * n_keys ints, the same
    size class as the bitset itself), never the keys."""
    pos = df.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
                    for i in range(k)
                ]
            )
        ).alias("p")
    ).distinct()
    words = [0] * ((n_bits + 62) // 63)
    for r in pos.collect():
        p = r["p"]
        words[p // 63] |= 1 << (p % 63)
    return words


def bloom_might_contain(
    bitset: list[int], key: Column, n_bits: int = 1 << 18, k: int = 5
) -> Column:
    """JVM-side membership test against a bloom_bitset: TRUE if every
    of the k bit positions of `key` is set (no false negatives; false
    positives bounded by (k*n/n_bits)^k).  The bitset travels as ONE
    from_json folded constant; dynamic bit access avoids pyspark's
    literal-only shiftleft via an element_at into a power-of-two mask
    array."""
    import json as _json

    packed = F.from_json(F.lit(_json.dumps(bitset)), "array<bigint>")
    pow2 = F.from_json(
        F.lit(_json.dumps([1 << b for b in range(63)])), "array<bigint>"
    )
    test = F.lit(True)
    for i in range(k):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(n_bits))
        word = F.element_at(packed, F.floor(p / F.lit(63)).cast("int") + 1)
        mask = F.element_at(pow2, F.pmod(p, F.lit(63)).cast("int") + 1)
        test = test & (word.bitwiseAND(mask) != 0)
    return test


def incremental_dedup_bloom(
    incoming: DataFrame,
    existing: DataFrame,
    key_col: str = "text_hash",
    n_bits: int = 1 << 18,
    k: int = 5,
    min_existing_rows: int | None = None,
) -> DataFrame:
    """Incoming rows whose key is ABSENT from the existing corpus —
    the incremental-dedup anti-join with the bloom pre-pass the
    entry_queries.q_incremental_dedup docstring promises at scale.

    Why the pre-pass: the plain `incoming ANTI JOIN existing` must
    shuffle the ENTIRE existing key set (the anti-join's small side is
    the LEFT, so no broadcast applies).  Instead, a Bloom filter over
    the INCOMING batch's keys (the small side, built distributed by
    bloom_bitset) prunes the existing corpus MAP-SIDE: only existing
    keys that might collide with the batch (~|incoming| + false
    positives) survive to the join, so the corpus-sized shuffle
    disappears and AQE can broadcast the pruned remnant.  Bloom false
    positives only add harmless extra rows to the exact anti-join —
    results are IDENTICAL to the plain form (pytest-pinned).

    min_existing_rows: size gate — below it (or when None the gate is
    off) the plain anti-join is used; a bloom build costs one extra
    job over incoming and only pays for itself when `existing` is
    much larger than the batch."""
    if min_existing_rows is not None and existing.count() < min_existing_rows:
        return incoming.join(existing.select(key_col), key_col, "left_anti")
    bitset = bloom_bitset(incoming, key_col, n_bits, k)
    pruned = existing.select(key_col).where(
        bloom_might_contain(bitset, F.col(key_col), n_bits, k)
    )
    return incoming.join(pruned, key_col, "left_anti")


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), JVM-side: split -> sliding
    windows via transform over an index sequence.

    Texts shorter than n words yield an EMPTY array — guarded
    explicitly because Spark's sequence(0, -1) is a descending
    sequence [0, -1], not empty, which would fabricate shingles."""
    words = F.split(F.lower(text), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return F.when(k > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signature(text: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """Array of `num_hashes` min-hashes over the shingle set.

    Hash family: inner xxhash64(shingle_string) computed ONCE per
    shingle, then member_i = xxhash64(inner, i) over the resulting
    LONG — double hashing keeps the members independent (64-bit inner
    collisions are negligible) while hashing each shingle's BYTES
    exactly once.  The previous form (xxhash64(shingle, i) per member)
    hashed every shingle string num_hashes times: measured 15 s ->
    ~4 s for the signature pass over 50k docs, because string hashing
    dominates and plan-build has no CSE — an expression referenced k
    times is computed k times (CLAUDE.md).

    Shape: ONE aggregate over the hashed-shingle array with an
    array<long> accumulator of running minima (zip_with + least), the
    same single-accumulator trick as simhash."""
    sh = shingles(text, shingle_n)
    hashed = F.transform(sh, lambda s: F.xxhash64(s))
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)

    def per_member(h: Column) -> Column:
        # closure factory — a 2-param transform lambda would be
        # (element, index), silently making every member identical
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.xxhash64(h, i),
        )

    sig = F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(acc, per_member(h), lambda a, b: F.least(a, b)),
    )
    # empty shingle set (short doc) -> all-sentinel signature; callers
    # filter short docs, but keep the previous all-null convention so
    # degenerate rows can never share a real bucket
    return F.when(F.size(sh) > 0, sig).otherwise(
        F.array_repeat(F.lit(None).cast("long"), num_hashes)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows -> xxhash64 signature -> explode into `bands` (band, bucket)
    keys -> bucket_pairs on the band key.  The shuffle carries only
    (band, bucket, id); texts never move.  max_bucket_size is
    bucket_pairs' hot-bucket cap.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_n)
    # texts shorter than shingle_n words have EMPTY shingle arrays ->
    # all-null signatures -> every short doc would share one bucket per
    # band and emit k(k-1)/2 meaningless pairs; drop them up front
    # (cheap word-count predicate, no shingle recompute)
    df = df.where(
        F.size(F.split(F.lower(F.col(text_col)), r"\s+")) >= F.lit(shingle_n)
    )
    banded = df.select(F.col(id_col).alias("id"), sig.alias("sig")).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # Materialize the band table before it fans out into the cap
    # aggregate and BOTH sides of the self-join: a DataFrame referenced
    # k times re-executes its plan k times (no cross-reference CSE), so
    # without this the shingle+signature pass ran 3-4x (measured: full
    # LSH 54 s vs 15 s of signature work at 50k docs).  This mirrors
    # production exactly — at 100 TB the (id, band, bucket) table is
    # computed once and PERSISTED (it is the incremental path's
    # signature table); localCheckpoint is its in-session analog.
    # Tiny: bands x n rows of three scalars, never the text.
    banded = banded.localCheckpoint(eager=True)
    return bucket_pairs(banded, ["band", "bucket"], max_bucket_size)


def bucket_pairs(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Candidate pairs from a band table: the one LSH self-join that
    every candidate-pair site (MinHash, SimHash, hyperplane buckets)
    runs through.

    `banded` holds (id, *keys, ...) rows, one per (doc, band).  Docs
    sharing a `keys` value pair up via an equi-join on `keys` with
    l.id < r.id, so the cross product never materializes and only the
    band table's own columns shuffle.  Returns distinct (id_a, id_b)
    rows; every other column of `banded` comes back as <col>_a and
    <col>_b (SimHash filters on them).  A pair colliding in several
    bands appears once.

    max_bucket_size: buckets larger than this are DROPPED before the
    self-join (left_semi against the under-cap bucket list).  A bucket
    of k members emits k(k-1)/2 pairs; one degenerate hot bucket
    (boilerplate, empty docs, tiny shared vocab) turns the join
    quadratic at corpus scale, and a bucket that 1000+ documents share
    carries no near-dup signal anyway.  None disables the cap.

    `banded` is referenced by the cap aggregate and both join sides,
    so callers materialize it once where they build it."""
    if max_bucket_size is not None:
        ok = (
            banded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select(*keys)
        )
        banded = banded.join(ok, keys, "left_semi")
    rest = [c for c in banded.columns if c != "id" and c not in keys]
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(right, keys)
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in rest],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in rest],
        )
        .distinct()
    )


MD5_MINHASH_SALTS = ["s0", "s1", "s2", "s3"]


def md5_minhash_bands(sh: DataFrame) -> DataFrame:
    """(id, sh: array<string>) -> materialized (id, band, bucket) rows:
    the engine-agnostic MinHash band table (md5 members, so DuckDB
    recomputes it bit-for-bit), 2 bands of 2 members.

    min(md5) per salt is array_min over a per-row transform — pure
    expressions, NO explode+groupBy shuffle (lexicographic min over the
    same md5 set as a SQL unnest+min).  This IS the persistable LSH
    signature table of the incremental path; it is checkpointed here
    because bucket_pairs references it up to three times and a
    DataFrame referenced twice re-runs the shingle+md5 pass twice (no
    cross-reference CSE).  Tiny: 2 rows/doc of three scalars."""

    def msig(salt: str):
        # closure, not a default-arg lambda (2-param transform lambdas
        # are (element, index))
        return F.array_min(
            F.transform(F.col("sh"), lambda w: F.md5(F.concat(w, F.lit(salt))))
        )

    sigs = sh.select(
        "id", *[msig(s).alias(f"m{i}") for i, s in enumerate(MD5_MINHASH_SALTS)]
    )
    return sigs.select(
        "id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.md5(F.concat("m0", "m1")).alias("bucket")),
                F.struct(F.lit(1).alias("band"), F.md5(F.concat("m2", "m3")).alias("bucket")),
            )
        ).alias("bk"),
    ).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    ).localCheckpoint(eager=True)


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  shingle_n: int = 3) -> DataFrame:
    """Exact Jaccard for candidate pairs (verification after LSH):
    joins each side's shingle set and computes |∩|/|∪| JVM-side."""
    sh = docs.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    out = (
        df_pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a", "id_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


def simhash(text: Column) -> Column:
    """60-bit SimHash over distinct lowercase words: each word's md5
    (first 15 hex nibbles = 60 bits) votes +1/-1 per bit; the sign
    vector, packed MSB-first, is the hash.  md5 means any engine with
    md5 — DuckDB, Trino, Postgres — computes the IDENTICAL signature.
    hex -> bit chars via conv(,16,2) (pyspark's shiftright/substring
    demand literal amounts, strings don't).  Votes accumulate in ONE
    array<long> aggregate: the naive form — 60 independent aggregate()
    expressions — compiles a massive codegen unit and ran ~100x slower
    (228 s vs ~2 s at sf0.1).  60 bits, not 64: packing the sign bit
    would overflow BIGINT under ANSI mode."""
    words = F.array_distinct(F.split(F.lower(text), r"\s+"))
    bits_of = lambda w: F.slice(  # noqa: E731
        F.split(F.lpad(F.conv(F.substring(F.md5(w), 1, 15), 16, 2), 60, "0"), ""), 1, 60
    )
    votes = F.aggregate(
        words,
        F.array_repeat(F.lit(0).cast("long"), 60),
        lambda acc, w: F.zip_with(
            acc,
            F.transform(
                bits_of(w),
                lambda c: F.when(c == "1", F.lit(1).cast("long")).otherwise(
                    F.lit(-1).cast("long")
                ),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        votes,
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2
        + F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-simhash duplicate groups (Hamming distance 0).  For
    distance <= k see :func:`simhash_near_pairs`."""
    return (
        df.select(F.col(id_col), simhash(F.col(text_col)).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= k over the 60-bit
    :func:`simhash` signatures — the banded bucket-join
    (Manku/Jain/Sarma's web-dedup construction, re-expressed as
    DataFrame equi-joins).

    Pigeonhole: split the 60 signature bits into k+1 contiguous
    chunks; two signatures within Hamming distance k must agree
    EXACTLY on at least one chunk (k flipped bits can dirty at most k
    chunks).  So: explode each doc into k+1 (chunk, cv) rows,
    bucket_pairs on (chunk, cv) — the shuffle carries only (chunk, cv,
    id, signature) — then filter the exact distance with
    bit_count(sim_a XOR sim_b) <= k.  The filter references only
    grouping keys of bucket_pairs' distinct, so Catalyst pushes it
    below the distinct into the join.  Hot chunks (e.g. all-zero
    signatures from empty docs) are dropped by the max_bucket_size
    cap.
    """
    bits, chunks = 60, k + 1
    w = bits // chunks

    def chunk_val(c: int) -> Column:
        lo = c * w
        width = bits - lo if c == chunks - 1 else w
        # literal shift amounts — pyspark shiftright demands them
        return F.shiftright(F.col("sim"), lo).bitwiseAND(F.lit((1 << width) - 1))

    banded = df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sim")
    ).select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("cv"))
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "sim", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))

    # Materialize the band table before it fans out into the cap
    # aggregate and BOTH sides of the self-join — same rationale as
    # minhash_lsh_candidates above: a DataFrame referenced k times
    # re-executes its plan (the full per-token signature hash) k
    # times.  Tiny: (k+1) rows/doc of four scalars, never the text.
    banded = banded.localCheckpoint(eager=True)

    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        bucket_pairs(banded, ["chunk", "cv"], max_bucket_size)
        .where(hamming <= k)
        .select("id_a", "id_b", hamming.alias("hamming"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node that appears in `pairs`;
    component = the MINIMUM node id reachable in the undirected pair
    graph — the transitive-clustering step every production dedup runs
    after LSH (collapse candidate pairs into groups, keep one doc per
    group).  No reference analog (the reference ships logs, not
    corpora); this is the Gopher/CCNet-style pipeline stage the LLM
    brief calls for.

    Algorithm: min-label propagation PLUS pointer jumping, all as
    keyed DataFrame self-joins (never a cross product):

      1. propagate: label'(v) = min(label(v), min_{u~v} label(u))
         — one equi-join of the symmetric edge list with the label
         table, one partial-aggregated groupBy(v).
      2. pointer jump: label''(v) = label'(label'(v)) — one
         equi-join of the label table with itself (path halving).

    Propagation alone needs O(diameter) rounds (a 1M-doc near-dup
    chain = 1M rounds); the pointer-jumping step halves label-chain
    depth every round, so convergence is O(log n) rounds — at 100 TB
    that is ~30 shuffles of (id, label) pairs, never of text.

    Per-round driver work is one fingerprint aggregate: labels only
    ever DECREASE, so sum(label) is monotone and the fixpoint is
    'sum unchanged' — no expensive old-vs-new anti-join.  It is checked
    every round: checking every 2nd round detected convergence 2 rounds
    late at 200k docs / 353k pairs, and the extra rounds cost more than
    the saved ~0.1 s collects (10.2 s vs 12.1 s, BENCH.md dedup-family
    record).  Each round localCheckpoints the label table: iterative self-joins otherwise
    double the lineage/plan depth per round, and round 12 would
    re-plan an exponentially deep tree.  (localCheckpoint trades
    executor-loss tolerance for speed; a long job on a preemptible
    cluster should set a checkpoint dir and swap in reliable
    .checkpoint() — one line, same plan shape.)

    Each superseded label table is released as soon as the next one is
    materialized, and the edge table on return or raise: after a call
    the returned label table is the only block-manager residue.

    Deterministic on any cluster size/partitioning (min is
    commutative); raises if max_iters rounds don't converge (2^25
    chain depth) rather than returning a half-merged clustering.

    stats: pass a dict to receive {"rounds": n} back (bench
    instrumentation; BENCH.md dedup-family record).
    """
    a, b = F.col(src).alias("v"), F.col(dst).alias("u")
    # checkpoint the edge list: it joins into EVERY round, and without
    # materialization each round would re-execute the upstream pair
    # derivation (the whole LSH banding) from scratch
    edges = (
        pairs.select(a, b).union(pairs.select(b.alias("v"), a.alias("u")))
    ).localCheckpoint(eager=True)

    def fp(lbl: DataFrame):
        # cast BEFORE the sum: BIGINT ids summed over millions of rows
        # overflow int64 under ANSI mode (which throws, not wraps)
        return lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    labels = None
    try:
        # Seed labels with min(v, min neighbor) — exactly what round 1's
        # propagate step would compute from the identity labeling, but as
        # ONE partial-aggregated groupBy over the edge list instead of a
        # full round (join + join + checkpoint + fingerprint collect).
        # Every node appears as `v` in the symmetric edge list, so the
        # seeded table covers the same node set; labels only ever decrease
        # from here, so the fixpoint (and the returned clustering) is
        # identical — r6 measured one fewer round on every CC entry.
        labels = (
            edges.groupBy("v").agg(F.min("u").alias("m"))
            .select("v", F.least(F.col("v"), F.col("m")).alias("label"))
        ).localCheckpoint(eager=True)
        fingerprint = fp(labels)

        for it in range(max_iters):
            nbr_min = (
                edges.join(labels.withColumnRenamed("v", "u").withColumnRenamed("label", "lu"), "u")
                .groupBy("v")
                .agg(F.min("lu").alias("m"))
            )
            prop = (
                labels.join(nbr_min, "v", "left")
                .select("v", F.least("label", F.coalesce("m", "label")).alias("label"))
            )
            # label(v) is itself a node id, so it has a row in prop: jump
            jumped = (
                prop.alias("l1")
                .join(
                    prop.select(F.col("v").alias("label"), F.col("label").alias("label2")).alias("l2"),
                    "label",
                )
                .select(F.col("v"), F.col("label2").alias("label"))
            )
            superseded, labels = labels, jumped.localCheckpoint(eager=True)
            release(superseded)
            if stats is not None:
                stats["rounds"] = it + 1
            new_fp = fp(labels)
            if new_fp == fingerprint:
                return labels.select("v", F.col("label").alias("component"))
            fingerprint = new_fp
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(pathological chain > 2^25 deep?)"
        )
    except BaseException:
        if labels is not None:
            release(labels)
        raise
    finally:
        release(edges)


def dedup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Cluster-level view of the candidate-pair graph: one row per
    connected component with keeper_id = min member (the doc a dedup
    pass keeps), sorted member list, and n_removable = n_members - 1
    (what `analyze` reports instead of raw pair counts — k near-dup
    docs in one cluster are k-1 removals, not k(k-1)/2 'pairs')."""
    cc = connected_components(pairs, src, dst)
    return (
        cc.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.min("v").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sort_array(F.collect_list("v")).alias("member_ids"),
            (F.count(F.lit(1)) - 1).alias("n_removable"),
        )
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """CCNet/MassiveText line-level deduplication (Wenzek et al. 2020
    §3.1; Rae et al. 2021 used the same pass to strip boilerplate):
    every line whose NORMALIZED hash (md5 of trim+lowercase) already
    occurred earlier in the corpus — ordered by (doc_id, line index)
    — is dropped; the first occurrence stays.  This is the pass that
    removes headers, cookie banners and nav text that exact
    doc-level dedup can't see (the dup is a LINE inside otherwise
    unique pages).

    Returns (doc_id, n_lines, n_kept, clean_text): non-empty line
    counts, kept-line count, and the document re-joined from its
    surviving lines in original order.

    Scale shape: one explode to (doc_id, idx, line_hash) rows, ONE
    hash-partitioned window (partitionBy line_hash — tiny groups, no
    global sort) to pick each hash's first occurrence, one
    groupBy(doc_id) partial-agg to re-assemble.  The text shuffles
    once, keyed by line hash; at 100 TB the same plan holds — the
    window's per-hash group is the line's occurrence list, bounded by
    the corpus's duplication factor (skewed boilerplate hashes are
    exactly the rows the pass deletes, and a count-cap salts them if
    one line dominates: drop any line with n_occ > cap outright, no
    order needed)."""
    from pyspark.sql import Window

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("idx", "line"),
    ).where(F.trim(F.col("line")) != "")
    hashed = lines.select(
        id_col, "idx", "line",
        F.md5(F.trim(F.lower(F.col("line")))).alias("lh"),
    )
    w = Window.partitionBy("lh").orderBy(id_col, "idx")
    flagged = hashed.select(
        id_col, "idx", "line",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("idx"), F.col("line"))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.getField("line"),
            ),
            line_sep,
        ).alias("clean_text"),
    )
