"""Deduplication suite for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash (hamming buckets), n-gram Jaccard verification, and
embedding-cosine near-dup. All Python crossings are Arrow-vectorized; the
hot paths (shingling, hashing, banding, bucket joins) stay JVM-side where
Spark has the built-in (sha2, hash, explode, groupBy).

Scale notes (100 TB): exact dedup is one shuffle on a 32-byte digest;
MinHash-LSH shuffles (band_id, band_hash) — bounded fan-out num_bands x
rows — and candidate verification touches only bucket-colliding pairs,
never the cross product. Mega-buckets (boilerplate pages) are capped by
``max_bucket`` to bound the pair blow-up, the standard web-dedup guard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, *, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest: one row per distinct text
    with the canonical (minimum) id and the duplicate count."""
    return (df
            .withColumn("text_sha", F.sha2(F.col(text_col), 256))
            .groupBy("text_sha")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_dups")))


def _shingles(text_col, n: int = 3):
    """Word n-gram shingles, JVM-side: split → sliding windows via transform
    over index array → concat."""
    words = F.split(F.trim(F.regexp_replace(text_col, r"\s+", " ")), " ")
    n_sh = F.greatest(F.size(words) - (n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), n_sh - 1)
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))


def minhash_signatures(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 128,
                       shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """MinHash signature per document.

    Hot path: WORDS are hashed JVM-side (one xxhash64 per token); word
    n-gram shingle hashes are a vectorized rolling combine inside the Arrow
    kernel (odd-constant multiply + xor — string shingles never
    materialize), then the H universal-hash mins run as H vectorized passes
    over the batch-flattened shingle array with segment-min via
    minimum.reduceat. No per-row Python in the heavy loop. (a*x+b) wraps
    mod 2^64 then reduces mod 2^61-1 — only internal consistency matters
    for MinHash, not algebraic universality."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, num_hashes, dtype=np.int64)
    au = a.astype(np.uint64)
    bu = b.astype(np.uint64)
    C = [np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F),
         np.uint64(0x165667B19E3779F9), np.uint64(0x27D4EB2F165667C5),
         np.uint64(0x85EBCA6B27D4EB4F)]

    @pandas_udf(T.ArrayType(T.LongType()))
    def _minhash(word_hashes: pd.Series) -> pd.Series:
        n = len(word_hashes)
        if n == 0:
            return pd.Series([], dtype=object)
        H = au.shape[0]
        sigs = np.zeros((n, H), dtype=np.int64)
        shingle_rows = []
        lens = np.zeros(n, dtype=np.int64)
        for i, wh in enumerate(word_hashes):
            w = np.asarray(wh, dtype=np.int64).astype(np.uint64)
            if w.shape[0] == 0:
                continue
            m = max(w.shape[0] - (shingle_n - 1), 1)
            sh = np.zeros(m, dtype=np.uint64)
            for j in range(min(shingle_n, w.shape[0])):
                sh ^= w[j:j + m] * C[j % len(C)]
            shingle_rows.append(sh)
            lens[i] = m
        if shingle_rows:
            flat = np.concatenate(shingle_rows) % np.uint64(_MERSENNE)
            ne_idx = np.flatnonzero(lens > 0)
            offsets = np.zeros(ne_idx.shape[0], dtype=np.int64)
            np.cumsum(lens[ne_idx][:-1], out=offsets[1:])
            for i in range(H):
                v = (au[i] * flat + bu[i]) % np.uint64(_MERSENNE)
                sigs[ne_idx, i] = np.minimum.reduceat(v, offsets).astype(np.int64)
        return pd.Series(list(sigs))

    # spread a single-split input before the heavy kernel: a sub-core
    # partition count serializes the whole signature pass (bench: the 5k-doc
    # corpus is ONE parquet row group). Inputs already wider than the
    # cluster are left untouched — no shuffle at real scale. (Streaming
    # frames have no RDD partition count; they are micro-batch-sized by
    # the source and skip the probe.)
    sc = df.sparkSession.sparkContext
    if not df.isStreaming and df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    words = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    hashed = df.select(
        id_col, F.transform(words, lambda w: F.xxhash64(w)).alias("_wh"))
    return hashed.withColumn("signature", _minhash(F.col("_wh"))).drop("_wh")


def minhash_lsh_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 128,
                      bands: int = 32, shingle_n: int = 3, seed: int = 42,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash signatures,
    with the estimated Jaccard (signature agreement rate) attached.
    Returns (id_a, id_b, est_jaccard), id_a < id_b, each pair once."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col=text_col, id_col=id_col,
                             num_hashes=num_hashes, shingle_n=shingle_n,
                             seed=seed)
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = (sig.withColumn("_band", F.explode(band_idx))
              .withColumn("_bhash", F.xxhash64(
                  F.col("_band"),
                  F.slice("signature", F.col("_band") * rows_per_band + 1,
                          rows_per_band).cast("string"))))
    # ONE bucket exchange (r6): cap runaway buckets (boilerplate
    # mega-clusters) to their first max_bucket members ordered by (id,
    # signature) BEFORE aggregating — a row_number filter Spark plans as
    # a WindowGroupLimit, so no task ever buffers a whole mega-bucket —
    # then aggregate each (band, bucket) to a sorted member array and emit
    # i<j pairs by a double posexplode, all in the same stage.
    from spandex_spark.functions.partitioning import pre_group_repartition
    w = Window.partitionBy("_band", "_bhash").orderBy(id_col, "signature")
    buckets = (pre_group_repartition(banded, "_band", "_bhash")
               .withColumn("_pos", F.row_number().over(w))
               .filter(F.col("_pos") <= max_bucket)
               .groupBy("_band", "_bhash")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("_id"),
                            F.col("signature").alias("_sig"))))
                   .alias("_members")))
    pairs = (buckets
             .select(F.posexplode("_members").alias("_i", "_a"), "_members")
             .select("_i", "_a", F.posexplode("_members").alias("_j", "_b"))
             .filter(F.col("_j") > F.col("_i"))
             # strict id order exactly as the old id_a < id_b self-join
             # filter: equal-id rows (duplicate doc ids) never pair
             .filter(F.col("_a._id") < F.col("_b._id")))
    agree = F.zip_with(F.col("_a._sig"), F.col("_b._sig"),
                       lambda x, y: (x == y).cast("int"))
    # est_jaccard is computed BEFORE the pair dedup (it is identical for
    # every band-collision of a pair), so the dedup exchange carries
    # (id_a, id_b, double) — not two 128-long signatures per row
    from spandex_spark.functions.partitioning import pre_group_repartition
    scored = pairs.select(
        F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b"),
        (F.aggregate(agree, F.lit(0), lambda acc, v: acc + v)
         / F.lit(float(num_hashes))).alias("est_jaccard"))
    return (pre_group_repartition(scored, "id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"]))


def ngram_jaccard_verify(df: DataFrame, pairs: DataFrame, *,
                         text_col: str = "text", id_col: str = "doc_id",
                         shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage after
    LSH): |A ∩ B| / |A ∪ B| over distinct word n-grams, JVM-side set ops."""
    sh = df.select(F.col(id_col),
                   F.array_distinct(_shingles(F.col(text_col), shingle_n)).alias("_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    return joined.withColumn(
        "jaccard", inter.cast("double") / union.cast("double")) \
        .select("id_a", "id_b", "jaccard")


def simhash_dedup(df: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", hamming_threshold: int = 3,
                  n_tables: int = 4) -> DataFrame:
    """64-bit SimHash near-dup pairs. Buckets by each of ``n_tables`` 16-bit
    chunks (pigeonhole: any pair within hamming distance n_tables-1 of each
    other collides in >=1 chunk); verifies hamming distance JVM-side via
    bit_count(xor)."""

    @pandas_udf(T.LongType())
    def _simhash(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), np.int64)
        for i, h in enumerate(hashes):
            x = np.asarray(h, dtype=np.int64).astype(np.uint64)
            if x.shape[0] == 0:
                continue
            bits = ((x[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            val = np.uint64(0)
            for bit in np.flatnonzero(votes > 0):
                val |= np.uint64(1) << np.uint64(bit)
            out[i] = np.int64(val.astype(np.int64))
        return pd.Series(out)

    words = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    hashed = df.select(
        F.col(id_col),
        F.transform(words, lambda w: F.xxhash64(w)).alias("_h"))
    sim = hashed.withColumn("simhash", _simhash(F.col("_h"))).drop("_h")

    chunk = [F.struct(F.lit(i).alias("t"),
                      F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("c"))
             for i in range(n_tables)]
    buck = sim.withColumn("_b", F.explode(F.array(*chunk)))
    lhs = buck.select(F.col("_b"), F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("_sa"))
    rhs = buck.select(F.col("_b"), F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("_sb"))
    pairs = (lhs.join(rhs, ["_b"])
             .filter(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= hamming_threshold)
            .select("id_a", "id_b", "hamming"))


def embedding_neardup_pairs(emb: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.
    Brute-force (broadcast) pair scan — the LSH-bucketed scale path lives in
    operators/similarity.py::ann_lsh."""
    from spandex_spark.operators.similarity import cosine_expr
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (pairs.withColumn("cosine", cosine_expr(F.col("_va"), F.col("_vb")))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def duplicate_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                       id_b: str = "id_b", max_iters: int = 50) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster_id)
    with cluster_id = min doc id in the component (the canonical survivor a
    dedup pipeline keeps).

    Algorithm: iterative min-label propagation on the undirected edge list
    (the "hash-to-min" method of Rastogi et al., "Finding Connected
    Components in Map-Reduce" — each round every vertex adopts the minimum
    label in its closed neighborhood; converges in O(log d) rounds on most
    graphs, bounded by the component diameter). Each round is one
    groupBy(min) + one join — all JVM; the driver loop only checks a
    convergence count, so rounds are O(diameter), not O(rows). Dedup
    components are tiny (duplicate families), so 2-4 rounds in practice;
    ``max_iters`` bounds pathological chains.
    """
    # localCheckpoint (not persist): iterative algorithms grow the LOGICAL
    # plan every round even when the parent is cached, and Catalyst
    # re-analyzes the whole nested plan — O(rounds^2)+ planner time.
    # Checkpointing truncates lineage so each round's plan is constant-size.
    edges = (pairs.select(F.col(id_a).cast("long").alias("src"),
                          F.col(id_b).cast("long").alias("dst"))
             .union(pairs.select(F.col(id_b).cast("long").alias("src"),
                                 F.col(id_a).cast("long").alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    # closed neighborhood: include the vertex itself so isolated-after-
    # filter vertices keep a label
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    prev_total = None
    for _ in range(max_iters):
        # every vertex proposes its current label to each neighbor; then
        # pointer-jump (adopt the label's own label) so chains collapse in
        # O(log diameter) rounds instead of O(diameter)
        prop = (edges.join(labels.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "label"))
        stepped = (prop.unionByName(labels)
                   .groupBy("id").agg(F.min("label").alias("label")))
        lab_of_lab = labels.select(F.col("id").alias("label"),
                                   F.col("label").alias("_ll"))
        new_labels = (stepped.join(lab_of_lab, "label", "left")
                      .select("id", F.least("label", "_ll").alias("label"))
                      .localCheckpoint(eager=True))
        # labels only ever decrease, so Σlabel is strictly monotone until
        # the fixpoint — an O(1)-row agg replaces a join-based diff check
        total = new_labels.agg(F.sum("label")).collect()[0][0]  # collect-ok: 1-row sum aggregate (CC convergence check)
        labels = new_labels
        if total == prev_total:
            break
        prev_total = total
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def line_dedup(df: DataFrame, *, text_col: str = "text",
               id_col: str = "doc_id", order_col: str | None = None,
               sep: str = "\n", min_chars: int = 1,
               out_col: str | None = None) -> DataFrame:
    """Corpus-wide line-level exact dedup, the C4/RefinedWeb text-cleaning
    step: any line (text between ``sep`` occurrences) that appears more
    than once ACROSS the whole corpus survives only at its first
    occurrence; every document is then reassembled from its surviving
    lines in original order. Boilerplate (nav bars, cookie banners,
    repeated footers) disappears from every page but the first one
    crawled.

    First-occurrence order: (``order_col`` if given — e.g. ``warc_ts`` —
    else nothing, then ``id_col``, then line position), so ties are
    deterministic. Lines shorter than ``min_chars`` (default: empty
    lines) bypass dedup and are always kept — dropping every second ""
    would corrupt paragraph structure, and one-char lines carry no
    boilerplate signal.

    Byte fidelity: kept lines are NEVER rewritten; a document that loses
    no lines round-trips byte-identically through split+reassemble
    (pytested, including empty and trailing lines). Documents whose text
    is NULL stay NULL; documents that lose every line come back "".

    Scale shape (10^12 docs): TWO shuffles — (1) the first-occurrence
    window partitioned by the line's sha2-256 digest (32-byte key; lines
    themselves never shuffle as join keys), (2) the groupBy(id)
    reassembly. Both are plain hash exchanges with no Python anywhere —
    the whole operator is codegen + window + agg. Boilerplate mega-lines
    (the same cookie banner on 10^9 pages) make a hot window key;
    rank-over-digest needs only (digest, order, id, pos) tuples — 56-ish
    bytes/row — and AQE skew-split applies; the line BODY rides only on
    the winner row.
    """
    out_col = out_col or text_col
    import re as _re
    lines = F.split(F.col(text_col), _re.escape(sep), -1)
    base = df.select(id_col, *( [order_col] if order_col else [] ),
                     F.posexplode(lines).alias("_pos", "_line"))
    digest = F.sha2(F.encode(F.col("_line"), "UTF-8"), 256)
    ordering = ([F.col(order_col)] if order_col else []) + \
               [F.col(id_col), F.col("_pos")]
    w = Window.partitionBy("_d").orderBy(*ordering)
    keep = (base
            .withColumn("_d", digest)
            .withColumn("_dedupable", F.length("_line") >= min_chars)
            .withColumn("_rk", F.when(F.col("_dedupable"),
                                      F.row_number().over(w)).otherwise(1))
            .filter(F.col("_rk") == 1))
    reassembled = (keep.groupBy(id_col)
                   .agg(F.array_sort(F.collect_list(
                            F.struct(F.col("_pos"), F.col("_line"))))
                        .alias("_parts"),
                        F.count("*").alias("_n_kept"))
                   .select(id_col,
                           F.concat_ws(sep, F.transform(
                               "_parts", lambda s: s["_line"]))
                           .alias("_newtext"),
                           F.col("_n_kept").alias("n_lines_kept")))
    n_lines = F.when(F.col(text_col).isNull(), F.lit(None)) \
               .otherwise(F.size(lines))
    out = (df.withColumn("_n_lines", n_lines)
           .join(reassembled, id_col, "left")
           .withColumn(out_col,
                       F.when(F.col(text_col).isNull(), F.lit(None))
                        .when(F.col("_newtext").isNull(), F.lit(""))
                        .otherwise(F.col("_newtext")))
           .withColumn("n_lines_kept",
                       F.coalesce("n_lines_kept", F.lit(0)))
           .withColumn("n_lines_dropped",
                       F.coalesce(F.col("_n_lines") - F.col("n_lines_kept"),
                                  F.lit(0)))
           .drop("_newtext", "_n_lines"))
    return out


def decontaminate(corpus: DataFrame, benchmark: DataFrame, *,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None, n: int = 13,
                  lowercase: bool = True,
                  hashed: bool = True) -> DataFrame:
    """Training-vs-eval n-gram overlap (the GPT-3 appendix-C /
    PaLM-style decontamination primitive; no reference analog — this is
    the web-scale graft's pipeline toolbox): flag every corpus document
    sharing at least one word ``n``-gram with any benchmark text.

    Scale shape: the benchmark side (eval suites — 1e5..1e7 n-grams)
    reduces to DISTINCT n-gram keys and BROADCASTS; the corpus explodes
    its n-grams map-side and probes the broadcast join, so the corpus is
    never shuffled for the match — the only exchange is the
    groupBy(id) for per-document hit counts, and only MATCHED rows
    reach it. ``hashed=True`` broadcasts xxhash64 keys (8 bytes/gram)
    instead of strings; collisions only ever over-flag, at ~2^-64 per
    probe.

    Documents/benchmarks shorter than ``n`` words contribute their full
    text as a single floor-gram (the `_shingles` contract), so verbatim
    short-item copies still match; a short quote INSIDE a long document
    does not — the standard n-gram-decontamination blind spot, widen by
    lowering ``n``.

    Output: one row per CONTAMINATED corpus document —
    (id_col, n_matched distinct grams, n_grams distinct grams in doc,
    contamination_ratio)."""
    bcol = bench_text_col or text_col

    def norm(c):
        return F.lower(c) if lowercase else c

    def gram_key(col):
        return F.xxhash64(col) if hashed else col

    bench_keys = (benchmark
                  .select(F.explode(F.array_distinct(
                      _shingles(norm(F.col(bcol)), n))).alias("_g"))
                  .filter(F.length("_g") > 0)
                  .select(gram_key(F.col("_g")).alias("_k"))
                  .distinct())
    grams = (corpus
             .select(id_col,
                     F.array_distinct(_shingles(norm(F.col(text_col)), n))
                     .alias("_gs"))
             .select(id_col, F.size("_gs").alias("n_grams"),
                     F.explode("_gs").alias("_g"))
             .filter(F.length("_g") > 0)
             .select(id_col, "n_grams", gram_key(F.col("_g")).alias("_k")))
    return (grams.join(F.broadcast(bench_keys), "_k")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_matched"),
                 F.first("n_grams").alias("n_grams"))
            .withColumn("contamination_ratio",
                        F.col("n_matched") / F.col("n_grams")))


def substring_dedup(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 50,
                    out_col: str | None = None) -> DataFrame:
    """Corpus-wide EXACT-SUBSTRING span dedup — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) member of the dedup family, at word-token granularity:
    every duplicated token window of length ``k`` survives only at its
    globally-first occurrence; later occurrences have the covered tokens
    REMOVED from the document (the document itself survives — this is
    span surgery, not row dropping). Overlapping duplicated windows
    merge into maximal removed spans naturally, because removal is the
    UNION of [pos, pos+k) over a document's non-canonical windows.

    First-occurrence order is (id, window position) — deterministic;
    one survivor per distinct window, the greedy keep-first rule the
    published implementations use in place of the paper's suffix-array
    sweep (which is not expressible as a data-parallel plan).
    Canonical spans are PROTECTED: positions inside a document's own
    first-occurrence (winner) windows are never removed by a different
    overlapping loser span, so every duplicated window really does
    survive somewhere — without this, abutting duplicated passages
    cascade ('a b'/'b c' at k=2 can otherwise erase 'b c' corpus-wide).

    Plan (zero Python anywhere — the reconstruction uses higher-order
    array functions, not a UDF):
    1. tokens = split(text); window hash = XOR of per-token xxhash64
       values under position-dependent bit rotations — O(n*k) integer
       ops per doc, embarrassingly parallel, no exchange;
    2. posexplode → ONE shuffle: min struct(id, pos) per window hash
       + count (map-side partial agg applies);
    3. non-canonical occurrences groupBy(id) → collect_list(pos)
       (second shuffle, carries only the losers' (id, pos) pairs —
       16 bytes per duplicated window, nothing for clean docs);
    4. left-join positions back (broadcast when the dup set is small)
       and rebuild text with filter(tokens, (t, i) -> no span covers i)
       — whole-stage codegen, kept tokens are never rewritten.

    Contract: tokens are whitespace-split and rejoined with single
    spaces, so documents are canonicalized to single-space separation
    (byte fidelity is line_dedup's contract, not this operator's —
    use it when span surgery matters more than whitespace).  Documents
    shorter than ``k`` tokens pass through untouched (but still
    canonicalized); NULL text stays NULL.

    Scale note (10^12 docs): the window-hash explode is the big flow —
    (hash, id, pos) ~ 24 bytes/token into the first exchange.  That is
    the price of exactness; the MinHash/SimHash family in this module
    is the cheap approximate tier above it, exactly the tiering the
    Lee et al. pipeline uses.
    """
    out_col = out_col or text_col
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (df.select(F.col(id_col).alias("_id"),
                      toks.alias("_toks"))
            .where(F.col("_toks").isNotNull()))
    n = F.size(F.col("_toks"))
    # window start positions 0 .. n-k (docs shorter than k emit none)
    # window hash = XOR of per-token xxhash64 values, each rotated by a
    # position-dependent amount (literal shifts, pure integer codegen) —
    # O(n*k) long ops instead of O(n*k) string copying,
    # ANSI-safe (no multiply overflow), and the same 64-bit birthday
    # collision budget as hashing the joined string would carry.
    # The hash array is MATERIALIZED as a column first: inlining it
    # makes every element_at() re-evaluate the whole transform() —
    # O(n²k) per doc, measured 793 s for 2.2M tokens; the materialized
    # form is the O(nk) the comment above promises.

    def _rot(c, r):
        r = r % 64
        if r == 0:
            return c
        return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))

    def _window_hash(i):
        terms = [_rot(F.element_at(F.col("_th"), i + 1 + j),
                      (j * 7 + 1) % 64)
                 for j in range(k)]
        acc = terms[0]
        for t_ in terms[1:]:
            acc = acc.bitwiseXOR(t_)
        return acc

    grams = (base.where(n >= k)
             .withColumn("_th", F.transform(
                 F.col("_toks"), lambda tok: F.xxhash64(tok)))
             .select(
                 "_id",
                 F.posexplode(F.transform(
                     F.sequence(F.lit(0), F.size("_toks") - k),
                     _window_hash)).alias("_pos", "_h")))
    per_hash = grams.groupBy("_h").agg(
        F.count("*").alias("_n"),
        F.min(F.struct("_id", "_pos")).alias("_first"))
    dup = grams.join(per_hash.where(F.col("_n") > 1), "_h")
    is_first = ((F.col("_id") == F.col("_first._id"))
                & (F.col("_pos") == F.col("_first._pos")))
    # losers: duplicated-window occurrences to remove; winners: the
    # canonical occurrences, whose token spans are PROTECTED from
    # overlapping loser removals in the same document — otherwise a
    # duplicated window whose canonical copy abuts a different
    # duplicated span loses its only surviving copy (the 'a b'/'b c'
    # cascade: doc1='a b', doc2='a b c', doc3='x b c' at k=2 would
    # reduce doc2 to 'c' and 'b c' would survive nowhere)
    losers = (dup.where(~is_first).groupBy("_id")
              .agg(F.collect_list("_pos").alias("_spans")))
    winners = (dup.where(is_first).groupBy("_id")
               .agg(F.collect_list("_pos").alias("_keeps")))
    rebuilt = (df.join(losers, F.col(id_col) == losers["_id"], "left")
               .drop("_id")
               .join(winners, F.col(id_col) == winners["_id"], "left")
               .drop("_id"))
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    spans = F.col("_spans")
    keeps = F.coalesce(F.col("_keeps"),
                       F.array().cast("array<integer>"))
    cleaned = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).when(
        spans.isNull(), F.array_join(t, " ")
    ).otherwise(
        F.array_join(
            F.filter(t, lambda tok, i:
                     ~F.exists(spans, lambda p:
                               (i >= p) & (i < p + F.lit(k)))
                     | F.exists(keeps, lambda p:
                                (i >= p) & (i < p + F.lit(k)))), " "))
    return rebuilt.withColumn(out_col, cleaned).drop("_spans", "_keeps")
