"""Deduplication operators for large-scale training-data pipelines.

Five families over the ``documents`` table:

* exact (hash-groupBy) — scales as one shuffle on a 32-byte digest;
* word n-gram Jaccard — exact similarity via shingle inverted index
  (explode → per-shingle posting lists → in-list pair generation), the
  candidate-pair generation bounded by shared shingles instead of the
  O(N²) cross join, and the shingle hash computed once (no self-join);
* MinHash + LSH — signature via k seeded affine permutations over md5-derived
  shingle hashes, banded into buckets; candidates = bucket collisions.
  Entirely JVM-side (higher-order functions), deterministic, so the DuckDB
  oracle can replay it exactly;
* SimHash — 64-bit sign-aggregated token hashes (Arrow-batched kernel,
  vocabulary-deduped md5 + vectorized bit votes), Hamming-radius grouping
  via band keys;
* embedding cosine near-dup — see similarity.py (shares the dot-product
  kernel).

Scale notes: every operator keys its shuffle on a digest/shingle/bucket —
uniformly distributed by construction, so no skew salting is needed; the
n-gram inverted index drops top-frequency shingles (`max_df`) to bound the
worst-case join fanout, the standard trick at 10^9-document scale.
"""


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textnorm import WS_REGEX, ws_tokens

# deterministic affine-permutation constants (public textbook MinHash):
# h_i(x) = (A_i * x + B_i) mod P over a 28-bit md5-derived shingle hash.
# P = 2^31 - 1 keeps every intermediate product < 2^60, exact in BIGINT on
# both engines (no HUGEINT needed, no silent 64-bit wrap on the Spark side).
MINHASH_P = (1 << 31) - 1  # Mersenne prime
MINHASH_A0, MINHASH_A1 = 0x5DEECE66D, 0x2545F4914F6CDD1D
MINHASH_B0, MINHASH_B1 = 0xB, 0x9E3779B97F4A7C15


def _minhash_coeffs(num_hashes: int):
    """Seeded (a, b) pairs, reproducible in plain SQL arithmetic."""
    coeffs = []
    for i in range(num_hashes):
        a = (MINHASH_A0 * (i + 1) + MINHASH_A1) % (MINHASH_P - 1) + 1
        b = (MINHASH_B0 * (i + 1) + MINHASH_B1) % MINHASH_P
        coeffs.append((a, b))
    return coeffs


def exact_dedup(df: DataFrame, col: str = "text") -> DataFrame:
    """Exact duplicate groups by content digest; keeps the smallest doc_id
    as the canonical representative."""
    return (
        df.groupBy(F.md5(F.col(col)).alias("digest"))
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count("*").alias("n_dups"))
    )


def shingles(df: DataFrame, n: int = 3, col: str = "text") -> DataFrame:
    """Word n-gram shingles per document (doc_id, shingle), NOT deduped —
    consumers that need per-doc distinctness aggregate with
    countDistinct/collect_set (min-hash is duplicate-insensitive anyway).

    Shingling is a strictly per-document transformation, so it runs as a
    SHUFFLE-FREE Arrow kernel (text → array of grams, then ``explode``).
    The r2 formulation (posexplode + window ``lead``) paid a full
    token-level shuffle — ≈ corpus size — just to see adjacent tokens;
    Catalyst higher-order ``transform``/``slice`` lambdas are interpreted
    per element (the r1 scale-killer), so the array is built batch-wise
    in Python instead, the ``simhash64`` pattern."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        ap = out.append
        for t in texts:
            tt = ws_tokens(t)
            if len(tt) >= n:
                ap([" ".join(tt[i:i + n]) for i in range(len(tt) - n + 1)])
            else:
                ap([])
        return pd.Series(out)

    return df.select("doc_id", F.explode(_sh(F.col(col))).alias("shingle"))


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.4,
                        max_df: int | None = None) -> DataFrame:
    """Exact Jaccard-similar pairs via a shingle inverted index."""
    sh = shingles(df, n)
    if max_df is not None:
        hot = (sh.groupBy("shingle").agg(
                   F.countDistinct("doc_id").alias("df"))
               .where(F.col("df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # shingles() is not per-doc deduped: distinctness folds into the
    # aggregations (countDistinct / collect_set) instead of a separate
    # distinct shuffle
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("sz"))
    # inverted index: group each shingle's posting list once and emit its
    # member pairs JVM-side — the shingle explode+hash runs once instead
    # of twice (a self-join recomputes both sides), and per-shingle
    # fan-out is naturally bounded by max_df at scale
    postings = (sh.groupBy("shingle")
                .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
                .where(F.size("ids") > 1))
    common = (
        postings.select(F.explode(F.flatten(F.expr(
            "transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS doc_a, y AS doc_b)))"
        ))).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"),
                 F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        common
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.round(
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def containment_pairs(df: DataFrame, n: int = 3, threshold: float = 0.6,
                      max_df: int | None = None) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup pairs — the RefinedWeb /
    "document inside document" detector Jaccard structurally misses: a
    200-token doc fully quoted inside a 20k-token doc has Jaccard ≈ 0.01
    but containment 1.0. Score = |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|)
    (max-containment), with ``contained_doc`` naming the smaller side.

    Scale shape: identical to ``ngram_jaccard_pairs`` — shuffle-free
    Arrow shingling, broadcast hot-shingle cut (``max_df`` bounds
    per-posting fan-out), inverted-index pair emission JVM-side — only
    the final scoring expression differs, so the same at-scale bounds
    hold."""
    sh = shingles(df, n)
    if max_df is not None:
        hot = (sh.groupBy("shingle").agg(
                   F.countDistinct("doc_id").alias("df"))
               .where(F.col("df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("sz"))
    postings = (sh.groupBy("shingle")
                .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
                .where(F.size("ids") > 1))
    common = (
        postings.select(F.explode(F.flatten(F.expr(
            "transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS doc_a, y AS doc_b)))"
        ))).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"),
                 F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("containment", F.round(
            F.col("common") / F.least("sz_a", "sz_b"), 6))
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b",
                F.when(F.col("sz_b") < F.col("sz_a"), F.col("doc_b"))
                 .otherwise(F.col("doc_a")).alias("contained_doc"),
                "containment")
    )


def containment_pairs_sql(table: str = "documents", n: int = 3,
                          threshold: float = 0.6,
                          max_df: int | None = None) -> str:
    src = "sh"
    cut = ""
    if max_df is not None:
        cut = f"""
, keep AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(DISTINCT doc_id) <= {max_df}
), shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle))"""
        src = "shc"
    return shingle_cte(table, n) + cut + f"""
, sizes AS (SELECT doc_id, count(*) AS sz FROM {src} GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       CASE WHEN sb.sz < sa.sz THEN p.doc_b ELSE p.doc_a END
           AS contained_doc,
       round(p.common / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6)
           AS containment
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE round(p.common / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6)
      >= {threshold}
"""


def minhash_signature(df: DataFrame, n: int = 3, num_hashes: int = 16,
                      col: str = "text") -> DataFrame:
    """(doc_id, sig array<long>) MinHash signature — ONE shuffle-free
    Arrow kernel per batch computes shingling, the md5-derived 28-bit
    shingle hashes, all ``num_hashes`` affine permutations and the
    per-document minima (``np.minimum.reduceat`` over the batch's gram
    stream; md5 runs once per UNIQUE gram via ``pd.factorize`` — the
    ``simhash64`` vocabulary trick). The r2 version shuffled the exploded
    shingle stream to a per-doc aggregation; this one touches each
    document exactly where it already sits. Same arithmetic as the
    plain-SQL oracle (exact BIGINT, ``(h*a+b) % (2^31-1)``); documents
    with no complete n-gram are absent, matching the oracle's GROUP BY
    over the shingle set."""
    import hashlib

    import numpy as np
    import pandas as pd

    coeffs = _minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    # mapInPandas (not a pandas_udf + isNotNull filter): a filter on a
    # python-UDF column splits into TWO ArrowEvalPython stages — Catalyst
    # evaluates the kernel once for the predicate and AGAIN for the
    # projection, doubling the most expensive stage of every minhash
    # path (measured: two `_sig(text)` nodes in the physical plan). The
    # kernel instead drops empty docs itself and emits each signature
    # exactly once.
    def _sig_map(batches):
        for pdf in batches:
            texts = pdf[col]
            doc_idx, grams = [], []
            for i, t in enumerate(texts):
                tt = ws_tokens(t)
                if len(tt) >= n:
                    g = [" ".join(tt[j:j + n])
                         for j in range(len(tt) - n + 1)]
                    doc_idx.append(np.full(len(g), i, dtype=np.int64))
                    grams.extend(g)
            if not grams:
                continue
            doc_idx = np.concatenate(doc_idx)
            codes, uniq = pd.factorize(pd.Series(grams, dtype=object))
            uh = np.fromiter(
                (int(hashlib.md5(u.encode()).hexdigest()[:7], 16)
                 for u in uniq), dtype=np.int64, count=len(uniq))
            # (vocab, k): products < 2^59 — exact in int64, no wrap
            mat = (uh[:, None] * A + B) % MINHASH_P
            rows = mat[codes]
            starts = np.flatnonzero(np.r_[True, np.diff(doc_idx) != 0])
            mins = np.minimum.reduceat(rows, starts, axis=0)
            ids = pdf["doc_id"].to_numpy()[doc_idx[starts]]
            yield pd.DataFrame({"doc_id": ids, "sig": list(mins)})

    return (df.select("doc_id", col)
            .mapInPandas(_sig_map, "doc_id long, sig array<long>"))


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) — each signature split into ``bands``
    concatenated-row bucket keys (the standard LSH OR-construction)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(",", *[
                    F.col("sig")[bi * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ]).alias("bucket"),
            )
            for bi in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(df: DataFrame, n: int = 3, num_hashes: int = 16,
                           bands: int = 4, col: str = "text") -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Physical shape: instead of a self-join (which computes the expensive
    shingle→md5→minhash signature for BOTH sides — Catalyst does not
    reuse the subtree), group each band bucket once and emit its member
    pairs with a JVM-side nested `transform` — one signature computation,
    one shuffle on (band, bucket), pair fan-out bounded by bucket size
    (near-dup cluster size), which is the formulation that survives at
    10^9 documents."""
    sig = minhash_signature(df, n, num_hashes, col)
    banded = _banded(sig, num_hashes, bands)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # all (i < j) pairs within a bucket, JVM-side
    pairs = buckets.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b)))"
    ))).alias("p")).select("p.doc_a", "p.doc_b")
    return pairs.distinct()


def incremental_lsh_candidates(new_df: DataFrame, index_sig: DataFrame,
                               n: int = 3, num_hashes: int = 16,
                               bands: int = 4,
                               col: str = "text") -> DataFrame:
    """Incremental near-dup candidates: a NEW document batch against a
    PERSISTED signature index — the production dedup mode, where each
    crawl/CDC increment is checked against the already-clean corpus
    without ever re-pairing the corpus with itself.

    ``index_sig`` is ``(doc_id, sig array<long>)`` — the stored output of
    ``minhash_signature`` over the existing corpus (at scale this lives
    in the lake, bucketed by band key, and only grows by the surviving
    new docs each increment). Signatures are per-document, so banding the
    stored sigs is bit-identical to recomputing them; the expensive
    shingle→md5→minhash kernel runs ONLY over the new batch.

    Returns candidate pairs (doc_a < doc_b) sharing any band bucket with
    AT LEAST ONE NEW side: new×old and new×new, never old×old — bucket
    expansion is skipped entirely for buckets containing no new member,
    so per-increment cost is ∝ new-batch size + touched-bucket sizes,
    not corpus size. Equals the full-corpus ``minhash_lsh_candidates``
    restricted to pairs involving a new doc (the oracle's formulation).
    """
    new_sig = minhash_signature(new_df, n, num_hashes, col)
    both = (_banded(index_sig, num_hashes, bands)
            .withColumn("new", F.lit(False))
            .unionByName(_banded(new_sig, num_hashes, bands)
                         .withColumn("new", F.lit(True))))
    buckets = (both.groupBy("band", "bucket")
               .agg(F.sort_array(
                   F.collect_list(F.struct("doc_id", "new"))).alias("ids"))
               .where(F.size("ids") > 1)
               # no new member -> nothing to emit; prune BEFORE fan-out
               .where(F.exists("ids", lambda x: x["new"])))
    pairs = buckets.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> "
        "filter(transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "x.new OR y.new AS any_new)), p -> p.any_new))"
    ))).alias("p")).select("p.doc_a", "p.doc_b")
    return pairs.distinct()


def simhash64(df: DataFrame, col: str = "text") -> DataFrame:
    """64-bit SimHash per document (Arrow-batched, vocabulary-vectorized).

    Per Arrow batch: flatten all tokens, ``md5`` only the UNIQUE tokens
    (hashlib is C; the Python loop runs over the batch vocabulary, not
    the token stream — Zipf makes that a small fraction), expand their
    bit matrices once, then segment-sum the per-doc bit votes with
    ``np.add.reduceat``. Shuffle-free narrow map, O(vocab) Python per
    batch.

    Why not JVM-side? Measured (sf0.1, 16 cores): exploding tokens into
    built-in ``md5`` + ``conv`` + 64 per-bit sum aggregates is ~10×
    SLOWER than this kernel — the 64-aggregate update falls out of
    whole-stage codegen and the explode+groupBy adds a token-level
    shuffle, while hashlib's md5 costs ~0.5 µs/token with zero shuffle."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        doc_idx, toks = [], []
        for i, t in enumerate(texts):
            tt = ws_tokens(t)
            if tt:
                doc_idx.append(np.full(len(tt), i, dtype=np.int64))
                toks.extend(tt)
        if not toks:
            return pd.Series(out)
        doc_idx = np.concatenate(doc_idx)
        codes, uniq = pd.factorize(pd.Series(toks, dtype=object))
        uh = np.fromiter(
            (int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
             for u in uniq),
            dtype=np.uint64, count=len(uniq))
        ubits = ((uh[:, None] >> np.arange(64, dtype=np.uint64)) & 1
                 ).astype(np.int64)                      # (vocab, 64)
        bits = ubits[codes]                              # (tokens, 64)
        # doc_idx is nondecreasing by construction → segment reduction
        starts = np.flatnonzero(np.r_[True, np.diff(doc_idx) != 0])
        votes = np.add.reduceat(bits, starts, axis=0)    # (docs_with, 64)
        counts = np.diff(np.r_[starts, len(doc_idx)])
        pos = (2 * votes) > counts[:, None]
        weights = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))
        sig = (pos[:, :63].astype(np.int64) * weights).sum(axis=1)
        # two's-complement bit 63: subtract 2^62 twice (2^63 overflows)
        hi = pos[:, 63].astype(np.int64) * np.int64(1 << 62)
        sig = sig - hi - hi
        out[doc_idx[starts]] = sig
        return pd.Series(out)

    return df.select("doc_id", _simhash(F.col(col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, col: str = "text",
                       bands: int = 4) -> DataFrame:
    """Hamming-near candidates: equal 16-bit SimHash band in any position
    (catches pairs within small Hamming distance)."""
    sh = simhash64(df, col)
    width = 64 // bands
    banded = sh.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), bi * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("bucket"),
            ) for bi in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # bucket-grouped pair generation (same shape as minhash LSH: one
    # simhash computation, bounded per-bucket fan-out)
    buckets = (banded.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .where(F.size("ids") > 1))
    pairs = buckets.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b)))"
    ))).alias("p")).select("p.doc_a", "p.doc_b")
    return pairs.distinct()


# ---- matching ANSI-SQL (DuckDB) oracles ------------------------------------

_SHINGLE_CTE = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '{ws}'), x -> x <> '') AS t FROM {table}
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(t) - {nm1}, 0) + 1),
      i -> array_to_string(t[i:i+{nm1}], ' ')))) AS shingle
  FROM toks
)
"""


def shingle_cte(table: str = "documents", n: int = 3) -> str:
    return _SHINGLE_CTE.format(table=table, nm1=n - 1, ws=WS_REGEX)


def exact_dedup_sql(table: str = "documents") -> str:
    return (f"SELECT md5(text) AS digest, min(doc_id) AS keep_doc_id, "
            f"count(*) AS n_dups FROM {table} GROUP BY md5(text)")


def ngram_jaccard_pairs_sql(table: str = "documents", n: int = 3,
                            threshold: float = 0.4,
                            max_df: int | None = None) -> str:
    """Oracle for ``ngram_jaccard_pairs`` — the ``max_df`` hot-shingle cut
    is mirrored as a HAVING over per-shingle document frequency, so the
    driver checks the operator in exactly its at-scale configuration."""
    src = "sh"
    cut = ""
    if max_df is not None:
        cut = f"""
, keep AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(DISTINCT doc_id) <= {max_df}
), shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle))"""
        src = "shc"
    return shingle_cte(table, n) + cut + f"""
, sizes AS (SELECT doc_id, count(*) AS sz FROM {src} GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(p.common / CAST(sa.sz + sb.sz - p.common AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE round(p.common / CAST(sa.sz + sb.sz - p.common AS DOUBLE), 6) >= {threshold}
"""


def minhash_signature_sql(table: str = "documents", n: int = 3,
                          num_hashes: int = 16) -> str:
    coeffs = _minhash_coeffs(num_hashes)
    mins = ",\n       ".join(
        f"min((hv * {a} + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs))
    sig_list = "[" + ", ".join(f"mh{i}" for i in range(num_hashes)) + "]"
    return shingle_cte(table, n) + f"""
, hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS hv FROM sh
), mh AS (
  SELECT doc_id, {mins}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {sig_list} AS sig FROM mh
"""


def minhash_lsh_candidates_sql(table: str = "documents", n: int = 3,
                               num_hashes: int = 16, bands: int = 4) -> str:
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "(" + str(bi) + ", " + " || ',' || ".join(
            f"mh{bi * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)) + ")"
        for bi in range(bands))
    coeffs = _minhash_coeffs(num_hashes)
    mins = ",\n       ".join(
        f"min((hv * {a} + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs))
    return shingle_cte(table, n) + f"""
, hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS hv FROM sh
), mh AS (
  SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
), banded AS (
  SELECT doc_id, b.* FROM mh, LATERAL (VALUES {band_structs}) AS b(band, bucket)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def simhash_sql(table: str = "documents") -> str:
    """DuckDB replay of ``simhash64``: same md5-derived 64-bit token hashes
    (first 16 hex chars, big-endian), same per-bit weighted majority vote.
    Two's-complement int64 is rebuilt arithmetically (bit 63 subtracts 2^62
    twice — a single ``(1<<62)*2`` would overflow BIGINT before negation)."""
    ws = WS_REGEX
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(coalesce(text, ''), '{ws}')) AS tok
  FROM {table}
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM toks WHERE tok <> ''
), votes AS (
  SELECT doc_id, b.b AS b,
         2 * SUM(((h >> b.b) & 1)::BIGINT) - COUNT(*) AS vote
  FROM h, (SELECT unnest(range(64)) AS b) b
  GROUP BY doc_id, b.b
), sig AS (
  SELECT doc_id,
         SUM(CASE WHEN vote > 0 AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
         - SUM(CASE WHEN vote > 0 AND b = 63 THEN (1::BIGINT << 62) ELSE 0 END)
         - SUM(CASE WHEN vote > 0 AND b = 63 THEN (1::BIGINT << 62) ELSE 0 END)
         AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
FROM {table} d LEFT JOIN sig s USING (doc_id)
"""


def simhash_near_pairs_sql(table: str = "documents", bands: int = 4) -> str:
    """DuckDB replay of ``simhash_near_pairs``: the simhash CTE (see
    ``simhash_sql``) banded into 64/bands-bit buckets; the int64 is mapped
    to its unsigned value in HUGEINT so the band extraction matches
    Spark's shiftrightunsigned."""
    width = 64 // bands
    inner = simhash_sql(table).strip()
    return f"""
WITH shq AS ({inner}),
u AS (
  SELECT doc_id,
         simhash::HUGEINT
         + CASE WHEN simhash < 0 THEN 18446744073709551616::HUGEINT
                ELSE 0::HUGEINT END AS u
  FROM shq
), banded AS (
  SELECT doc_id, b.b AS band,
         ((u // (1::HUGEINT << ({width} * b.b))) % {1 << width})::BIGINT
         AS bucket
  FROM u, (SELECT unnest(range({bands})) AS b) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


# -------------------------------------------------------- decontamination
def decontaminate(df: DataFrame, n: int = 4, modulus: int = 97,
                  col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    word ``n``-gram with a held-out benchmark set (the n-gram-overlap
    rule used to scrub eval contamination from LLM training corpora,
    e.g. GPT-3 appendix C / PaLM §6 use 8–13-gram collision; this
    corpus's synthetic near-dups share runs only up to ~5 grams, so the
    registered configuration uses 4-grams to keep the check discriminative).

    The benchmark set here is the deterministic slice
    ``doc_id % modulus == 0`` of the same corpus (the driver's tables are
    fixed, so membership is reproducible). Shape at scale: shingling is
    the shuffle-free Arrow kernel (``shingles``); the benchmark shingle
    set is tiny relative to the corpus (1/modulus of it) and is
    broadcast, so the overlap test is a map-side hash join — the corpus
    is never shuffled, matching how a 100 TB corpus is decontaminated
    against a few-MB eval suite.
    """
    sh = shingles(df, n, col)
    is_bench = F.col("doc_id") % modulus == 0
    bench_sh = sh.where(is_bench).select("shingle").distinct()
    hits = (sh.where(~is_bench)
            .join(F.broadcast(bench_sh), "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_hit_shingles")))
    return (df.where(~is_bench).select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hit_shingles", F.lit(0))
                    .alias("n_hit_shingles"),
                    (F.coalesce("n_hit_shingles", F.lit(0)) > 0)
                    .cast("int").alias("contaminated")))


def decontaminate_sql(table: str = "documents", n: int = 4,
                      modulus: int = 97) -> str:
    return shingle_cte(table, n) + f"""
, bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {modulus} = 0
), hits AS (
  SELECT doc_id, CAST(count(DISTINCT sh.shingle) AS BIGINT)
           AS n_hit_shingles
  FROM sh JOIN bench USING (shingle)
  WHERE doc_id % {modulus} != 0
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles,
       CAST(coalesce(h.n_hit_shingles, 0) > 0 AS INT) AS contaminated
FROM {table} d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {modulus} != 0
"""


def dup_spans(df: DataFrame, n: int = 8, col: str = "text") -> DataFrame:
    """Exact duplicated-span statistics per document at word n-gram
    granularity — the distributed form of ExactSubstr dedup (Lee et al.
    2022, arXiv:2107.06499): a span is duplicated iff its n-gram also
    occurs in at least one OTHER document (cross-document duplication;
    every occurrence position counts). The paper's suffix array is a
    single-machine
    structure; production distributed pipelines run exactly this
    fingerprint formulation.

    Returns one row per document: ``(doc_id, n_spans, n_dup_spans,
    dup_frac)`` — the per-doc span count (every window position counts,
    multiplicity preserved), how many of those spans are corpus-
    duplicated, and their ratio. Downstream policy (drop the doc, cut
    the spans) consumes these stats.

    Scale shape: shingling is the shuffle-free Arrow kernel
    (``shingles``); then ONE shuffle on (doc, shingle) folds positional
    multiplicity map-side, the shingle-level document frequency is a
    second aggregation over that already-collapsed table (≤ one row per
    doc-gram, not per position), and the frequency joins back on the
    shingle key. No step ever materializes cross-document pairs, so hot
    spans (boilerplate) cost their posting-list length, not its square.
    """
    base = df.select("doc_id")
    per = (shingles(df, n, col)
           .groupBy("doc_id", "shingle")
           .agg(F.count("*").alias("m")))
    dfreq = per.groupBy("shingle").agg(F.count("*").alias("nd"))
    stats = (per.join(dfreq, "shingle")
             .groupBy("doc_id")
             .agg(F.sum("m").alias("n_spans"),
                  F.sum(F.when(F.col("nd") > 1, F.col("m"))
                        .otherwise(F.lit(0))).alias("n_dup_spans")))
    return (base.join(stats, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("n_dup_spans", F.lit(0))
                    .alias("n_dup_spans"),
                    F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
                    .otherwise(F.round(F.col("n_dup_spans")
                                       / F.col("n_spans"), 6))
                    .alias("dup_frac")))


def dup_spans_sql(table: str = "documents", n: int = 8) -> str:
    # NOT shingle_cte: that one is per-doc deduped (list_distinct), but a
    # span statistic is positional — a gram repeated inside one document
    # counts every occurrence (and makes the doc self-duplicated only if
    # another doc shares the gram, same as the Spark side's count(*))
    ws = WS_REGEX
    return rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '{ws}'), x -> x <> '') AS t FROM {table}
), sh AS (
  SELECT doc_id, unnest(list_transform(
      range(1, greatest(len(t) - {n - 1}, 0) + 1),
      i -> array_to_string(t[i:i+{n - 1}], ' '))) AS shingle
  FROM toks
)
, per AS (SELECT doc_id, shingle, count(*) AS m FROM sh GROUP BY 1, 2),
dfreq AS (SELECT shingle, count(*) AS nd FROM per GROUP BY 1),
stats AS (
  SELECT p.doc_id, sum(p.m) AS n_spans,
         sum(CASE WHEN d.nd > 1 THEN p.m ELSE 0 END) AS n_dup_spans
  FROM per p JOIN dfreq d USING (shingle) GROUP BY 1)
SELECT t.doc_id,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       round(CASE WHEN coalesce(s.n_spans, 0) = 0 THEN 0.0
             ELSE s.n_dup_spans / CAST(s.n_spans AS DOUBLE) END, 6)
           AS dup_frac
FROM {table} t LEFT JOIN stats s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# C4 sentence-span dedup (Raffel et al. 2020 §2.2): "we discarded all but
# one of any three-sentence span occurring more than once in the data set".
# Companion to dup_spans (word-n-gram ExactSubstr statistics) at sentence
# granularity WITH the keep-one semantics: every duplicated occurrence is
# removed EXCEPT the canonical keeper, deterministically the occurrence
# with the lexicographically smallest (doc_id, pos).

C4_SENT_RE = "[.!?]+"


def c4_span_dedup(df: DataFrame, span: int = 3, col: str = "text",
                  sent_re: str = C4_SENT_RE) -> DataFrame:
    """Per-document C4 span-dedup statistics: ``(doc_id, n_sents,
    n_spans, n_removed_spans, dup_frac)``.

    Sentences are non-empty ASCII-trimmed fragments between terminal-
    punctuation runs; spans are every sliding window of ``span``
    consecutive sentences (positions 1-based). An occurrence is removed
    iff its span text occurs more than once corpus-wide and it is not
    the global minimum (doc_id, pos) occurrence.

    Scale shape: sentence segmentation and span construction are
    map-only JVM expressions (split/transform/slice — one codegen pass,
    no Python); then ONE shuffle groups occurrences by span text with a
    map-side partial (count and min-struct both fold before the
    exchange, so a boilerplate span occurring 10^6 times ships one
    partial row per input partition, not 10^6 rows), the span-frequency
    table joins back on the span key, and a second key shuffle folds
    per-document counts. No cross-document pair set is ever
    materialized.
    """
    c = F.coalesce(F.col(col), F.lit(""))
    sents = F.filter(
        F.transform(F.split(c, sent_re), lambda s: F.trim(s)),
        lambda s: s != "")
    base = df.select("doc_id", sents.alias("sents"))
    n_spans = F.size("sents") - F.lit(span - 1)
    spans = (F.when(F.size("sents") >= span,
                    F.transform(
                        F.sequence(F.lit(1), n_spans),
                        lambda i: F.array_join(
                            F.slice(F.col("sents"), i, span), " ")))
             .otherwise(F.array().cast("array<string>")))
    occ = (base.select("doc_id", F.posexplode(spans).alias("pos0", "sp"))
           .select("doc_id", (F.col("pos0") + 1).alias("pos"), "sp"))
    freq = (occ.groupBy("sp")
            .agg(F.count("*").alias("cnt"),
                 F.min(F.struct("doc_id", "pos")).alias("keeper")))
    removed = (occ.join(freq, "sp")
               .select("doc_id",
                       ((F.col("cnt") > 1)
                        & ~((F.col("keeper.doc_id") == F.col("doc_id"))
                            & (F.col("keeper.pos") == F.col("pos"))))
                       .cast("long").alias("rm")))
    stats = removed.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("rm").alias("n_removed_spans"))
    return (base.select("doc_id", F.size("sents").alias("n_sents"))
            .join(stats, "doc_id", "left")
            .select("doc_id", "n_sents",
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("n_removed_spans", F.lit(0))
                    .alias("n_removed_spans"),
                    F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
                    .otherwise(F.round(F.col("n_removed_spans")
                                       / F.col("n_spans"), 6))
                    .alias("dup_frac")))


def c4_span_dedup_sql(table: str = "documents", span: int = 3,
                      sent_re: str = C4_SENT_RE) -> str:
    """DuckDB equivalent of :func:`c4_span_dedup` (same columns)."""
    return rf"""
WITH s AS (
  SELECT doc_id, list_filter(list_transform(
      string_split_regex(coalesce(text, ''), '{sent_re}'),
      x -> trim(x)), x -> x <> '') AS sents
  FROM {table}
), occ AS (
  SELECT doc_id, i AS pos,
         array_to_string(sents[i:i+{span - 1}], ' ') AS sp
  FROM s, unnest(range(1, greatest(len(sents) - {span - 1}, 0) + 1))
       AS t(i)
), freq AS (
  SELECT sp, count(*) AS cnt,
         min({{'d': doc_id, 'p': pos}}) AS keeper
  FROM occ GROUP BY sp
), rm AS (
  SELECT o.doc_id,
         CAST(f.cnt > 1 AND NOT (f.keeper.d = o.doc_id
                                 AND f.keeper.p = o.pos) AS BIGINT)
             AS rm
  FROM occ o JOIN freq f USING (sp)
), stats AS (
  SELECT doc_id, count(*) AS n_spans, sum(rm) AS n_removed_spans
  FROM rm GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.sents) AS BIGINT) AS n_sents,
       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(st.n_removed_spans, 0) AS BIGINT) AS n_removed_spans,
       round(CASE WHEN coalesce(st.n_spans, 0) = 0 THEN 0.0
             ELSE st.n_removed_spans / CAST(st.n_spans AS DOUBLE) END, 6)
           AS dup_frac
FROM s LEFT JOIN stats st USING (doc_id)
"""


# --------------------------------------------------------------- URL dedup
# Tracking parameters stripped during canonicalization — the CommonCrawl/
# C4-style crawl-frontier rule set (utm_* campaign tags, Facebook/Google
# click ids). Kept params are sorted so parameter order never splits a
# canonical group.
URL_TRACKING_RE = "^(utm_[^=]*|fbclid|gclid)="


def url_canonicalize(url_col):
    """Column expression: canonical form of an URL — lowercase, scheme
    and leading ``www.`` stripped, default ports dropped, trailing
    path slash removed, tracking query params removed, surviving params
    sorted. Pure JVM string/array expressions (map-only, codegen): at
    crawl scale this runs inside the scan with zero extra stages."""
    u = F.regexp_replace(F.lower(url_col), r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    hostport = F.split_part(u, F.lit("/"), F.lit(1))
    host = F.regexp_replace(hostport, ":(80|443)$", "")
    rest = F.substring(u, F.length(hostport) + 2, 1 << 30)
    path = F.regexp_replace(F.split_part(rest, F.lit("?"), F.lit(1)),
                            "/$", "")
    qs = F.when(rest.contains("?"),
                F.split_part(rest, F.lit("?"), F.lit(2))).otherwise(F.lit(""))
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.rlike(URL_TRACKING_RE))
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        host, F.lit("/"), path,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"),
                                                            canon_q)))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by canonical URL — the first dedup pass of every web
    corpus pipeline (C4 §2.2 / CCNet run URL-level dedup before any
    content hashing; at 100 TB it removes the bulk of re-crawls for the
    price of ONE key shuffle on a short string).

    Returns one row per canonical URL: duplicate count, the kept doc
    (smallest id — deterministic), and an order-free ``bit_xor``
    membership digest proving the groups are identical, not merely
    identically sized."""
    return (df.select(url_canonicalize(F.col(url_col)).alias("canonical_url"),
                      F.col(id_col))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keeper_doc_id"),
                 F.bit_xor(id_col).alias("member_digest")))


def url_dedup_sql(urls_cte: str) -> str:
    """DuckDB replay of :func:`url_dedup` over ``urls_cte`` — a CTE body
    producing (doc_id, url)."""
    return f"""
WITH urls AS ({urls_cte}),
base AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(url), '^https?://', ''),
                        '^www\\.', '') AS u
  FROM urls
), parts AS (
  SELECT doc_id,
         regexp_replace(split_part(u, '/', 1), ':(80|443)$', '') AS host,
         CASE WHEN u LIKE '%/%'
              THEN u[len(split_part(u, '/', 1)) + 2:] ELSE '' END AS rest
  FROM base
), pq AS (
  SELECT doc_id, host,
         regexp_replace(split_part(rest, '?', 1), '/$', '') AS path,
         CASE WHEN rest LIKE '%?%' THEN split_part(rest, '?', 2)
              ELSE '' END AS qs
  FROM parts
), canon AS (
  SELECT doc_id,
         host || '/' || path ||
         CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
  FROM (SELECT doc_id, host, path,
               array_to_string(list_sort(list_filter(
                   string_split(qs, '&'),
                   p -> p <> '' AND NOT regexp_matches(
                       p, '{URL_TRACKING_RE}'))), '&') AS cq
        FROM pq)
)
SELECT canonical_url, count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id, bit_xor(doc_id) AS member_digest
FROM canon GROUP BY canonical_url
"""


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC-the-storage-kind) dedup: LBFS (Muthitacharoen
# et al., SOSP'01) / FastCDC (Xia et al., ATC'16) boundary selection at word
# granularity. Boundaries are chosen by a rolling gear over the token stream
# itself, so an insertion or deletion only perturbs the chunks around the
# edit — unlike fixed-size blocks, where one shifted byte re-writes every
# downstream block. This is the chunk-store dedup a lake of source-code
# repository revisions (the flagship table's domain) would run: successive
# commits of a file share almost all chunks.

CDC_GEAR_MODULUS = 8     # ~1/8 boundary probability → mean chunk ≈ 8 tokens
CDC_MIN_REPORT_LEN = 2   # single-token chunks are noise in the dup inventory


def cdc_chunk_dedup(df: DataFrame, modulus: int = CDC_GEAR_MODULUS,
                    min_report_len: int = CDC_MIN_REPORT_LEN,
                    col: str = "text") -> DataFrame:
    """Duplicated-chunk inventory under content-defined chunking:
    one row per chunk content that occurs more than once in the corpus —
    ``(chunk_hash, tok_len, n_docs, n_copies)``.

    Boundary rule (the "gear"): token *i* closes a chunk iff
    ``(h_i + 31 * h_{i-1}) % modulus == 0`` over the 28-bit md5 token
    hashes (``h_0``'s predecessor is 0). The window is the raw token
    STREAM, not reset per chunk, so boundaries are a pure function of a
    2-token neighbourhood — the shift-invariance that makes the scheme
    content-defined. Production CDC adds min/max chunk bounds; those make
    boundaries depend on chunk start and are left as a policy knob here
    (the inventory filters reported chunks to ``min_report_len`` instead).

    Scale shape: chunking is strictly per-document, so it runs as ONE
    shuffle-free Arrow kernel emitting (doc_id, chunk_hash, tok_len)
    — no token-level explode, no window functions, no per-doc shuffle.
    The only exchanges are the two phases of the exact
    ``countDistinct(doc_id)`` aggregation, both keyed on the chunk hash
    (map-side partials apply; no doc-level or pairwise shuffle ever).
    Token hashes are vocabulary-cached per batch, so hot tokens cost one
    md5 each.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)
    from hashlib import md5 as _md5

    out_t = ArrayType(StructType([
        StructField("chunk_hash", StringType()),
        StructField("tok_len", IntegerType()),
    ]))

    @pandas_udf(out_t)
    def _chunks(texts: pd.Series) -> pd.Series:
        hcache: dict[str, int] = {}

        def th(tok: str) -> int:
            h = hcache.get(tok)
            if h is None:
                h = int(_md5(tok.encode()).hexdigest()[:7], 16)
                hcache[tok] = h
            return h

        out = []
        for t in texts:
            tt = ws_tokens(t)
            chunks = []
            cur = []
            prev = 0
            for tok in tt:
                h = th(tok)
                cur.append(tok)
                if (h + 31 * prev) % modulus == 0:
                    chunks.append(cur)
                    cur = []
                prev = h
            if cur:
                chunks.append(cur)
            out.append([
                (_md5(" ".join(c).encode()).hexdigest(), len(c))
                for c in chunks
            ])
        return pd.Series(out)

    ch = (df.select("doc_id", F.explode(_chunks(F.col(col))).alias("c"))
          .select("doc_id", F.col("c.chunk_hash").alias("chunk_hash"),
                  F.col("c.tok_len").alias("tok_len")))
    return (ch.groupBy("chunk_hash")
            .agg(F.min("tok_len").cast("long").alias("tok_len"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_copies"))
            .where((F.col("n_copies") > 1)
                   & (F.col("tok_len") >= min_report_len)))


def cdc_chunk_dedup_sql(table: str = "documents",
                        modulus: int = CDC_GEAR_MODULUS,
                        min_report_len: int = CDC_MIN_REPORT_LEN) -> str:
    """DuckDB replay of :func:`cdc_chunk_dedup` — list-space rolling gear
    (the exclusive prefix-sum chunk index is O(n²) in list_sum-over-slice
    form; fine for an oracle, the Spark kernel is the linear path)."""
    ws = WS_REGEX
    return rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '{ws}'), x -> x <> '') AS t FROM {table}
), hs AS (
  SELECT doc_id, t, list_transform(t, x -> ('0x' || substr(md5(x),1,7))::BIGINT) AS h FROM toks
), bnd AS (
  SELECT doc_id, t, h,
         list_transform(range(1, len(t) + 1),
           i -> CASE WHEN (h[i] + 31 * (CASE WHEN i = 1 THEN 0 ELSE h[i-1] END)) % {modulus} = 0
                THEN 1 ELSE 0 END) AS b
  FROM hs
), cidx AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t) + 1),
           i -> CASE WHEN i = 1 THEN 0
                ELSE CAST(coalesce(list_sum(b[1:i-1]), 0) AS BIGINT) END) AS c
  FROM bnd
), tok_rows AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(range(1, len(t) + 1)) AS pos,
         unnest(c) AS ci
  FROM cidx
), chunks AS (
  SELECT doc_id, ci, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
         count(*) AS tok_len
  FROM tok_rows GROUP BY 1, 2
)
SELECT chunk_hash,
       CAST(min(tok_len) AS BIGINT) AS tok_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_copies
FROM chunks GROUP BY 1
HAVING count(*) > 1 AND min(tok_len) >= {min_report_len}
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95) — the
# entity-resolution companion to hash blocking (LSH): sort the corpus by
# a semantic key that collates likely duplicates, then emit candidate
# pairs only within a sliding window of the sort order. Catches
# prefix-similar records that hash blocking can miss, at cost linear in
# corpus size × window.

SNM_WINDOW = 4
SNM_KEY_LEN = 24


def sorted_neighborhood_pairs(df: DataFrame, w: int = SNM_WINDOW,
                              key_len: int = SNM_KEY_LEN,
                              col: str = "text") -> DataFrame:
    """Candidate pairs within ``w`` positions of the key sort order:
    ``(doc_a, doc_b, same_key)`` (``same_key`` = identical blocking key —
    the collision label a downstream matcher scores first; the window
    additionally surfaces near-key neighbours no hash block would pair).

    Global rank WITHOUT a global window (the repo's two-level idiom):
    ``repartitionByRange`` on the key gives order-aligned, quantile-
    balanced ranges (equal keys never split across ranges); a per-range
    ``row_number`` runs in parallel, and a broadcast prefix over the
    one-row-per-range counts lifts local ranks to global ones. The
    window join is then an EQUI-join on rank (each row exploded to its
    w−1 forward offsets) — no range self-join, no single-partition sort.
    Output is invariant to where the sampled range boundaries land."""
    from .ranking import global_rank

    k = F.substring(
        F.regexp_replace(F.lower(F.col(col)), WS_REGEX, " "), 1, key_len)
    base = df.select("doc_id", k.alias("k"))
    # the window self-join references the ranked frame twice; checkpoint
    # it so Catalyst doesn't recompute the whole two-level rank subtree
    # for each side (10 exchanges -> 3)
    rn = global_rank(base, ["k", "doc_id"]).localCheckpoint(eager=False)
    a = rn.select(F.col("doc_id").alias("doc_a"),
                  F.col("k").alias("k_a"),
                  F.explode(F.sequence(F.col("rn") + 1,
                                       F.col("rn") + (w - 1)))
                  .alias("rn_b"))
    return (a.join(rn.withColumnRenamed("rn", "rn_b"), "rn_b")
            .select("doc_a", F.col("doc_id").alias("doc_b"),
                    (F.col("k_a") == F.col("k")).cast("int")
                    .alias("same_key")))


def sorted_neighborhood_pairs_sql(table: str = "documents",
                                  w: int = SNM_WINDOW,
                                  key_len: int = SNM_KEY_LEN) -> str:
    ws = WS_REGEX
    return rf"""
WITH k AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '{ws}', ' ', 'g'),
                1, {key_len}) AS k
  FROM {table}
), r AS (
  SELECT doc_id, k,
         row_number() OVER (ORDER BY k, doc_id) AS rn
  FROM k
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.k = b.k AS INTEGER) AS same_key
FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {w - 1}
"""


def minhash_estimate_pairs(df: DataFrame, n: int = 3, num_hashes: int = 8,
                           bands: int = 4, col: str = "text") -> DataFrame:
    """The post-LSH scoring stage production MinHash pipelines run
    BEFORE any exact verification: for every banded candidate pair,
    estimate Jaccard as the fraction of agreeing signature positions —
    ``(doc_a, doc_b, sig_matches, est_jaccard)``. Downstream policy
    thresholds ``est_jaccard``; only survivors ever touch the raw text
    again.

    Plan: the Arrow signature kernel runs ONCE (checkpointed — the
    banding pass and both join probes read the materialized frame, the
    sorted-neighborhood idiom), candidates come from the same in-bucket
    pair generation as ``minhash_lsh_candidates``, and the estimate is
    a JVM ``zip_with`` over the two signature arrays — no Python after
    the kernel, no re-shingling."""
    sig = (minhash_signature(df, n, num_hashes, col)
           .localCheckpoint(eager=False))
    banded = _banded(sig, num_hashes, bands)
    buckets = (banded.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .where(F.size("ids") > 1))
    pairs = (buckets.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b)))"
    ))).alias("p")).select("p.doc_a", "p.doc_b").distinct())
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    matches.cast("long").alias("sig_matches"),
                    F.round(matches / float(num_hashes), 6)
                    .alias("est_jaccard")))


def minhash_estimate_pairs_sql(table: str = "documents", n: int = 3,
                               num_hashes: int = 8,
                               bands: int = 4) -> str:
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "(" + str(bi) + ", " + " || ',' || ".join(
            f"mh{bi * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)) + ")"
        for bi in range(bands))
    coeffs = _minhash_coeffs(num_hashes)
    mins = ",\n       ".join(
        f"min((hv * {a} + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs))
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes))
    return shingle_cte(table, n) + f"""
, hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS hv FROM sh
), mh AS (
  SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
), banded AS (
  SELECT doc_id, bb.* FROM mh, LATERAL (VALUES {band_structs}) AS bb(band, bucket)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(({agree}) AS BIGINT) AS sig_matches,
       round(({agree}) / {float(num_hashes)}, 6) AS est_jaccard
FROM cand c
JOIN mh a ON a.doc_id = c.doc_a
JOIN mh b ON b.doc_id = c.doc_b
"""
