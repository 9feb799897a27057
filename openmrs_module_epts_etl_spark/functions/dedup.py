"""Deduplication families for web-scale corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design notes
------------------
- Exact dedup: one hash-groupBy — map-side combine, one shuffle.
- MinHash: shingle → 64-bit code → k permutation-min aggregations. The whole
  signature is computed with ``groupBy(doc).agg(min(...) × k)`` — pure JVM
  aggregation with partial aggregation, NO per-row Python and no UDF at all.
  (a_i * h + b_i) mod p over md5-derived codes keeps the arithmetic portable
  to the DuckDB oracle.
- LSH: signatures → bands → band-hash buckets → self-join inside buckets only.
  The candidate join is |bucket|²-bounded per bucket, not |corpus|².
- SimHash: 64 weighted bit sums as native aggregations, Hamming distance via
  bit_count(xor) — near-dup pairs at distance ≤ d via band join on 4 16-bit
  chunks (pigeonhole: d ≤ 3 ⇒ some chunk equal).
- n-gram Jaccard: explode shingles, equi-join on shingle, count shared /
  (|A|+|B|-shared). Exact but quadratic in the worst case — use after LSH
  candidate generation at scale; standalone only at small SF.
"""

from __future__ import annotations

import os
import re
import urllib.parse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^31-1: keeps a*code+b < 2^62 so the arithmetic stays inside int64 in BOTH
# Spark and the DuckDB oracle (no silent wrap / no overflow error).
MERSENNE_P = (1 << 31) - 1


def _shingle_code(col: Column) -> Column:
    """Portable shingle code: first 15 hex chars of md5 → bigint, reduced mod
    p. Same value computable in DuckDB/ANSI SQL for the correctness oracle
    (``('0x' || substr(md5(s),1,15))::bigint % p``)."""
    return F.pmod(F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint"), F.lit(MERSENNE_P))


# SimHash width: 60 bits = 15 hex chars of md5 — the widest slice that still
# fits signed int64 on BOTH engines, so every bit/shift/xor is portable to
# the DuckDB oracle (('0x' || substr(md5(s || '|seed'),1,15))::BIGINT).
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # pigeonhole banding: 4 × 15-bit chunks
_POLY_M = 1_000_003  # band-bucket polynomial multiplier (acc·M + v stays < 2^62)


def hash60(col: Column, seed: int) -> Column:
    """Portable seeded 60-bit hash (see SIMHASH_BITS)."""
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"|{seed}"))), 1, 15), 16, 10
    ).cast("bigint")


def poly_combine(cols: list[Column]) -> Column:
    """Order-sensitive polynomial hash of int64 columns, mod p — the band
    bucket key. Pure arithmetic so the SQL oracle computes the identical
    value (each step: acc < p ⇒ acc·M + v < 2^62, no overflow)."""
    acc = F.lit(0).cast("bigint")
    for c in cols:
        acc = F.pmod(acc * F.lit(_POLY_M) + c, F.lit(MERSENNE_P))
    return acc


def _scan_splits(df: DataFrame) -> int | None:
    """Metadata-only estimate of a file-backed frame's scan-task count:
    Spark packs files into splits of ``spark.sql.files.maxPartitionBytes``,
    so splits ≈ Σ ceil(file_size / maxPartitionBytes). Returns None when the
    frame isn't file-backed or a size can't be stat'ed (non-local scheme) —
    callers fall back to the exact-but-costlier partition probe."""
    files = df.inputFiles()
    if not files:
        return None
    raw = str(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    ).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmg]?)b?", raw)
    if not m:
        return None
    maxpb = int(m.group(1)) * {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3}[
        m.group(2)
    ]
    splits = 0
    for f in files:
        p = urllib.parse.urlparse(f)
        if p.scheme not in ("", "file"):
            return None
        if p.path.lower().endswith((".gz", ".zip", ".lz4", ".snappy", ".zst", ".deflate")):
            # non-splittable compression: Spark plans exactly ONE task per
            # file no matter its size — sizing it at maxPartitionBytes would
            # overestimate parallelism and skip the respread this estimate
            # exists to trigger (parquet/orc stay splittable; their
            # extensions name the INTERNAL codec, e.g. .snappy.parquet, and
            # don't end with a codec suffix)
            splits += 1
            continue
        try:
            size = os.path.getsize(urllib.parse.unquote(p.path) or f)
        except OSError:
            return None
        splits += max(1, -(-size // max(maxpb, 1)))
    return splits


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows: distinct word-level n-grams of
    whitespace-normalized, lowercased text. Documents shorter than n words
    yield their full text as the single shingle.

    Dedup happens with ``array_distinct`` *inside each row* before the
    explode — the (id, shingle) output is exactly as distinct as a post-hoc
    ``.distinct()``, but no shingle string ever crosses a shuffle (a corpus of
    D docs × S shingles would otherwise exchange D·S strings just to dedupe
    what is already per-document data)."""
    # Shingling fans each doc out ~|words| rows — CPU-heavy row generation.
    # A small corpus arriving in one task would run it serially; spread the
    # docs first when the scan has fewer tasks than the session has slots.
    # File COUNT is not task count (one 2 GB parquet file splits into many
    # scan tasks), so estimate splits from file sizes at maxPartitionBytes
    # granularity — pure metadata. Only non-file-backed frames (in-memory /
    # mapInPandas outputs, rare and small) pay the DF→RDD partition probe.
    par = df.sparkSession.sparkContext.defaultParallelism
    splits = _scan_splits(df)
    if splits is None:
        splits = df.rdd.getNumPartitions()
    if splits < par:
        df = df.repartition(par, F.col(id_col))
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    words = F.split(norm, " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle"))


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """(id, h0..h{k-1}): k min-hash values per document, all JVM-side.

    Permutations h_i(x) = (a_i·x + b_i) mod p with p = 2^31−1; a_i/b_i are
    fixed odd constants derived from the seed so signatures are reproducible
    anywhere (including the SQL oracle).

    The md5 shingle code is materialized once per row before the aggregation
    (k min-aggregations each embedding their own copy of the md5 expression
    tree would hash every shingle k times — Catalyst does not CSE across
    aggregate functions), and the aggregation shuffles 8-byte codes, not
    shingle strings.
    """
    coded = shingles.select("id", _shingle_code(F.col("shingle")).alias("__c"))
    code = F.col("__c")
    aggs = []
    for a, b, i in minhash_coefficients(num_hashes, seed):
        aggs.append(F.min(F.pmod(F.lit(a) * code + F.lit(b), F.lit(MERSENNE_P))).alias(f"h{i}"))
    return coded.groupBy("id").agg(*aggs)


def minhash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int, int]]:
    """(a_i, b_i, i) for h_i(x) = (a_i·x + b_i) mod p — shared by the Spark
    implementation and the generated SQL oracle."""
    out = []
    for i in range(num_hashes):
        a = (2 * (seed * 1_000_003 + i * 7_919) + 1) % MERSENNE_P or 1
        b = (seed * 1_140_071_481 + i * 2_654_435_761) % MERSENNE_P
        out.append((a, b, i))
    return out


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """MinHash-LSH: hash each band of the signature; docs sharing any band
    bucket become a candidate pair. Returns distinct (id_a, id_b), id_a<id_b.
    """
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(poly_combine([F.lit(b).cast("bigint"), *cols]).alias(f"band{b}"))
    banded = signatures.select("id", *band_cols)
    stacked = banded.select(
        "id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket")) for b in range(bands)])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_similarity(signatures: DataFrame, pairs: DataFrame, num_hashes: int = 32) -> DataFrame:
    """Estimated Jaccard = fraction of matching minhash components."""
    sa = signatures.select(F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)])
    sb = signatures.select(F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)])
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    matches = sum_ints([F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)])
    return j.select("id_a", "id_b", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, min_jaccard: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle."""
    sh = word_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def near_dup_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """The composed scale path a user actually wants: MinHash-LSH candidate
    generation → EXACT n-gram-Jaccard verification, one call. The exact
    shingle join runs only over LSH candidate pairs (never corpus², unlike
    standalone ngram_jaccard_pairs, which is the small-SF oracle twin), so
    cost is bounded by candidate volume. LSH false positives with zero
    shared shingles drop out of the inner join — correct for any
    min_jaccard > 0. Returns (id_a, id_b, jaccard)."""
    from ._cache import cycle_persist

    sh = cycle_persist("near_dup_jaccard.shingles", word_shingles(df, id_col, text_col, n))
    sigs = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("id").alias("id_a"), "shingle")
    sb = sh.select(F.col("id").alias("id_b"), "shingle")
    shared = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def simhash(shingles: DataFrame, seed: int = 42) -> DataFrame:
    """(id, simhash): 60-bit SimHash from shingle hashes — bit i of the result
    is 1 iff the sum over shingles of ±1 (by bit i of hash60(shingle)) > 0.
    60 conditional-sum aggregations (60-long buffer → Tungsten HashAggregate),
    one shuffle of (id, 8-byte hash) rows, no UDF. The hash is materialized
    once per row — 60 aggregations each re-evaluating the md5 would hash
    every shingle 60 times (no CSE across aggregate functions). 60 bits (not
    64) keeps every value positive int64 and bit-for-bit reproducible in the
    DuckDB oracle (plans/text_queries._simhash_sql)."""
    hashed = shingles.select("id", hash60(F.col("shingle"), seed).alias("__h"))
    h = F.col("__h")
    aggs = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("id").agg(*aggs)
    sig = sum_ints(
        [
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
            for i in range(SIMHASH_BITS)
        ]
    )
    return sums.select("id", sig.alias("simhash"))


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ max_hamming via pigeonhole
    banding: split 60 bits into 4 chunks; distance ≤ 3 ⇒ at least one chunk
    identical. One exploded (chunk_idx, chunk_val) self-join replaces four
    separate chunk joins + union — a single exchange pair, and the bucket key
    (chunk_idx, chunk_val) keeps candidates per-bucket, never corpus²; exact
    distance verified with bit_count(xor)."""
    bits_per_chunk = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << bits_per_chunk) - 1
    chunk = F.explode(
        F.array(*[
            F.struct(
                F.lit(c).alias("ci"),
                F.shiftrightunsigned(F.col("simhash"), bits_per_chunk * c)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
            for c in range(SIMHASH_CHUNKS)
        ])
    )
    t = sig.select("id", "simhash", chunk.alias("ch")).select(
        "id", "simhash", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv")
    )
    a = t.alias("a")
    b = t.alias("b")
    pairs = (
        a.join(b, (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-content hash: keep the min-id representative
    per fingerprint group. One groupBy (map-side combined)."""
    from .text import doc_fingerprint

    fp = df.select(F.col(id_col).alias("id"), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min("id").alias("keep_id"),
        F.count("*").alias("n_dups"),
    )


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: ids of corpus documents sharing ANY word
    n-gram with the benchmark/eval set — the standard pre-training hygiene
    filter (held-out test questions must not leak into training data).

    Scale shape: the benchmark side is eval data — thousands of rows, not
    corpus-sized — so its distinct shingle set is broadcast and the corpus
    side is never shuffled: shingling is a per-row fan-out, the containment
    test a broadcast left-semi join, and the final distinct is keyed by id
    (bounded by |corpus|, map-side combined). The corpus is read exactly
    once, no sort, no wide exchange of shingle strings.

    ``n`` trades recall for precision exactly as in published
    decontamination setups (8-13 word overlap windows); small-SF oracles use
    n=3 because synthetic docs are short.
    """
    c = word_shingles(corpus, id_col, text_col, n)
    b = word_shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    return (
        c.join(F.broadcast(b), "shingle", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected pair list → ``(id, comp)`` for
    every id appearing in ``pairs``, where ``comp`` is the minimum id in the
    node's component (so the label doubles as the canonical-representative
    pick for dedup clusters).

    Scale shape: hash-to-min label propagation with per-round pointer
    jumping. Each round is (a) one shuffle join edges⋈labels + min-groupBy to
    pull the smallest neighbor label, then (b) one label⋈label self-join that
    rewrites every label to its label's label (path compression), so label
    trees halve in height every round and convergence is O(log diameter)
    rounds — near-dup clusters are dense (diameter 2-4), so 2-3 rounds in
    practice. Labels are always real node ids (min over a set of ids), which
    is what makes the compression join total. ``localCheckpoint`` truncates
    the per-round lineage so the plan does not grow with iterations.

    Convergence check: the round carries each node's PREVIOUS label through
    the jump join, so "any label changed?" is a filter-count over the
    already-materialized round output — a narrow scan of in-memory blocks.
    The earlier form re-joined the new labels against the old ones
    (edges-sized shuffle + join job per round purely for the convergence
    test); at scale that was one full extra job per round.

    Round materialization alternates ``persist`` / ``localCheckpoint``:
    every round must materialize anyway (the convergence count), but
    ``localCheckpoint`` is an EAGER separate job, so checkpointing every
    round paid two jobs per round (checkpoint + count). Odd rounds persist
    lazily instead — the convergence count is then the job that both
    materializes the cache and counts — and even rounds still checkpoint,
    truncating the logical plan every two jumps so lineage stays bounded
    for deep label trees. A cached odd-round frame is released as soon as
    the next round's checkpoint has materialized, so at most one round frame
    is cached at a time (correctness never depends on the cache: an
    unpersisted frame just recomputes its — at most two-round — lineage).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    comp = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("id"), F.least("src", "m").alias("comp"))
        .localCheckpoint()
    )
    cached: DataFrame | None = None
    for i in range(max_iter):
        nbr = (
            edges.join(
                comp.select(F.col("id").alias("dst"), F.col("comp").alias("c")), "dst"
            )
            .groupBy("src")
            .agg(F.min("c").alias("nc"))
            .select(F.col("src").alias("id"), "nc")
        )
        lowered = comp.withColumnRenamed("comp", "prev").join(nbr, "id", "left").select(
            "id", "prev", F.least("prev", F.coalesce("nc", "prev")).alias("comp")
        )
        jumped = lowered.join(
            lowered.select(F.col("id").alias("comp"), F.col("comp").alias("cc")),
            "comp",
        ).select("id", "prev", F.col("cc").alias("comp"))
        if i % 2 == 0:
            jumped = cached = jumped.persist()
        else:
            # the eager checkpoint has read the previous round's cached
            # blocks; nothing needs them any more
            jumped = jumped.localCheckpoint()
            cached.unpersist()
            cached = None
        changed = jumped.filter(F.col("comp") != F.col("prev")).count()
        comp = jumped.select("id", "comp")
        if changed == 0:
            break
    edges.unpersist()
    if cached is not None:
        # the final comp's blocks live in the last cached frame; hand the
        # caller a checkpointed result first so the unpersist below cannot
        # force a recompute of the returned labels (cheap: the checkpoint
        # job reads the cached blocks)
        comp = comp.localCheckpoint()
        cached.unpersist()
    return comp


def sum_ints(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out
