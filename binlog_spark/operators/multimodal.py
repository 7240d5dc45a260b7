"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; feature extraction / decode / resize / frame-sample
are Arrow-batched ``mapInPandas`` stages. No media codec is wired in, so
the decode step is a stub: the stages read the payload's raw bytes as
pixels or samples (the codec-stub contract), while everything
Spark-side — schema, batching, partitioning, UDF signatures,
deterministic fallback features — is real and tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

def to_blob_table(df: DataFrame, col: str = "text") -> DataFrame:
    """Model a multimodal ingest table: payload as opaque binary + typed
    metadata (the documents' utf-8 bytes stand in for media payloads)."""
    blob = F.encode(F.col(col), "utf-8")
    return df.select(
        "doc_id",
        blob.alias("payload"),
        F.struct(
            F.octet_length(blob).alias("n_bytes"),
            F.hex(F.substring(blob, 1, 4)).alias("magic"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def _fallback_features(buf: bytes) -> np.ndarray:
    """Deterministic stand-in featurizer: 16-bin byte histogram,
    L1-normalized — vectorized numpy over the raw payload."""
    if not buf:
        return np.zeros(FEATURE_DIM, dtype=np.float64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float64)
    return hist / hist.sum()


def extract_features(df: DataFrame) -> DataFrame:
    """payload binary → feature vector (array<double>), Arrow-batched."""
    schema = "doc_id long, n_bytes int, features array<double>"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fallback_features(b).tolist() for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(b) for b in pdf["payload"]],
                "features": feats,
            })

    return df.select("doc_id", "payload").mapInPandas(_extract, schema=schema)


def frame_sample_offsets(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Evenly spaced sample offsets into the payload (the frame-sampling
    plumbing for video): pure JVM-side arithmetic, unrolled per frame
    index (no interpreted HOF lambda) with explicit ``floor`` so the SQL
    oracle replays the rounding exactly."""
    n_bytes = F.octet_length(F.col("payload"))
    offsets = F.array(*[
        F.floor(F.lit(i) * n_bytes / F.lit(n_frames)).cast("long")
        for i in range(n_frames)])
    return df.select("doc_id", n_bytes.alias("n_bytes"),
                     offsets.alias("sample_offsets"))


def frame_sample_sql(table: str = "documents", n_frames: int = 4) -> str:
    cols = ", ".join(
        f"CAST(floor({i} * octet_length(encode(text)) / {n_frames}.0) "
        f"AS BIGINT) AS o{i}" for i in range(n_frames))
    return (f"SELECT doc_id, octet_length(encode(text)) AS n_bytes, "
            f"{cols} FROM {table}")


def blob_metadata(df: DataFrame, col: str = "text") -> DataFrame:
    """Typed metadata of the payload column — ANSI-SQL checkable.

    The magic prefix is the hex of the first 4 *characters'* bytes (DuckDB
    cannot substring a BLOB, so both sides slice text first)."""
    blob = F.encode(F.col(col), "utf-8")
    return df.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.upper(F.hex(F.encode(F.substring(F.col(col), 1, 4), "utf-8")))
        .alias("magic"),
    )


def blob_metadata_sql(table: str = "documents") -> str:
    return (f"SELECT doc_id, octet_length(encode(text)) AS n_bytes, "
            f"upper(hex(encode(substr(text, 1, 4)))) AS magic FROM {table}")


def features_sql(table: str = "documents") -> str:
    """DuckDB replay of the fallback featurizer's f0/f15 components: the
    16-bin high-nibble byte histogram over the utf-8 payload, read off the
    hex encoding (high nibble of byte i = hex char at position 2i+1)."""
    return r"""
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n, upper(hex(encode(text))) AS h
  FROM {table}
)
SELECT doc_id, n AS n_bytes,
  CASE WHEN n = 0 THEN 0.0 ELSE
    round(len(list_filter(range(n), i -> substr(h, 2*i+1, 1) = '0')) / n::DOUBLE, 6)
  END AS f0,
  CASE WHEN n = 0 THEN 0.0 ELSE
    round(len(list_filter(range(n), i -> substr(h, 2*i+1, 1) = 'F')) / n::DOUBLE, 6)
  END AS f15
FROM b
""".replace("{table}", table)


PATCH = 4  # ViT patch side


def patchify(df: DataFrame, patch: int = PATCH,
             col: str = "text") -> DataFrame:
    """ViT-style patch grid over a payload treated as a square H×H
    "image" (H = isqrt(len), trailing elements truncated — the resize
    crop): one output row per full P×P patch with its element sum and
    quantized mean — ``(doc_id, pr, pc, sum_px, mean_q)``. The kernel is
    the real Spark-side plumbing a patch-embedding stage needs (binary →
    batched Arrow → per-patch reduction → exploded patch rows); only the
    pixel decode is the stand-in (codepoints as pixel values — see the
    module docstring's codec stub contract).

    Vectorized per batch: reshape to (H, H), crop to (G·P, G·P), block-
    sum via a (G, P, G, P) reshape — no per-pixel Python. Map-only until
    whatever consumes the patches."""
    from typing import Iterator

    def _patches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, prs, pcs, sums = [], [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf[col]):
                codes = np.frombuffer((t or "").encode("utf-32-le"),
                                      dtype=np.uint32)
                h = int(np.sqrt(len(codes)))
                g = h // patch
                if g == 0:
                    continue
                img = codes[:h * h].reshape(h, h)[:g * patch, :g * patch]
                blocks = (img.reshape(g, patch, g, patch)
                          .sum(axis=(1, 3), dtype=np.int64))
                for i in range(g):
                    for j in range(g):
                        ids.append(doc_id)
                        prs.append(i)
                        pcs.append(j)
                        sums.append(int(blocks[i, j]))
            yield pd.DataFrame({"doc_id": ids, "pr": prs, "pc": pcs,
                                "sum_px": sums})

    part = df.select("doc_id", col).mapInPandas(
        _patches, "doc_id long, pr int, pc int, sum_px long")
    return part.withColumn(
        "mean_q", F.round(F.col("sum_px") / (patch * patch), 4))


def patchify_sql(table: str = "documents", patch: int = PATCH) -> str:
    p = patch
    return f"""
WITH g AS (
  SELECT doc_id, text,
         CAST(floor(sqrt(len(text))) AS BIGINT) AS h
  FROM {table}
), px AS (
  SELECT doc_id, h, text, unnest(range(0, h * h)) AS i FROM g
), cells AS (
  SELECT doc_id,
         (i // h) AS r, (i % h) AS c, h,
         unicode(substr(text, CAST(i + 1 AS INT), 1)) AS v
  FROM px
)
SELECT doc_id,
       CAST((r // {p}) AS INTEGER) AS pr,
       CAST((c // {p}) AS INTEGER) AS pc,
       CAST(sum(v) AS BIGINT) AS sum_px,
       round(sum(v) / {float(p * p)}, 4) AS mean_q
FROM cells
WHERE r < (h // {p}) * {p} AND c < (h // {p}) * {p}
GROUP BY 1, 2, 3
"""


PHASH_BITS = 64
PHASH_BANDS = 4  # 4 x 16-bit Hamming bands


def phash64(df: DataFrame, col: str = "text") -> DataFrame:
    """64-bit average-hash (aHash) fingerprint of each blob payload —
    the perceptual-dedup primitive image pipelines (imagededup, the
    LAION dedup run) compute after decode+resize. The codec stage is
    the module's documented stub, so the "resize to 8×8" stand-in is a
    64-point resample of the RAW payload bytes (byte at position
    ``i·n/64``); the hash algebra — threshold each sample against the
    global mean, pack bits — is exactly aHash and is what the Spark
    plumbing has to carry at scale.

    Emitted as ``bands array<int>`` (4 × 16-bit words, little-endian
    bit order within a word) rather than one int64: the banded form is
    what Hamming-LSH bucketing consumes, and it sidesteps sign games.

    Whole plan is map-only JVM codegen — ``hex()`` once per payload,
    then higher-order functions over literal sequences; no Python, no
    shuffle, fuses into the scan."""
    pl = F.encode(F.col(col), "utf-8")
    out = (df.select("doc_id", F.hex(pl).alias("hx"),
                     F.octet_length(pl).alias("n"))
           .where(F.col("n") > 0))  # empty payloads have no hash
    # byte_i = payload[(i*n) div 64]  via the hex string (2 chars/byte)
    out = out.withColumn("bts", F.expr(
        "transform(sequence(0, 63), i -> cast(conv(substring(hx, "
        "cast(i * n div 64 as int) * 2 + 1, 2), 16, 10) as int))"))
    out = out.withColumn("tot", F.expr(
        "aggregate(bts, 0, (acc, x) -> acc + x)"))
    return out.select("doc_id", F.expr(
        "transform(sequence(0, 3), b -> aggregate(sequence(0, 15), 0, "
        "(acc, j) -> acc + if(element_at(bts, b * 16 + j + 1) * 64 > tot, "
        "shiftleft(1, j), 0)))").alias("bands"))


def phash_near_dup_pairs(df: DataFrame, max_hamming: int = 10,
                         col: str = "text") -> DataFrame:
    """Perceptual-hash near-duplicate pairs: Hamming-ball LSH over the
    64-bit aHash — by pigeonhole, two payloads within 3 differing bits
    ALWAYS collide on at least one of the 4 16-bit bands (guaranteed
    recall); between 4 and ``max_hamming`` bits the bands are the
    standard probabilistic recall/cost dial, the same OR-construction
    as ``dedup_simhash_pairs``. Candidates come from band-equality
    buckets (ONE shuffle on (band_idx, word)), pairs are generated
    in-bucket, and the exact 64-bit Hamming distance — popcount of the
    4 banded XORs — filters to the ball. No all-pairs stage anywhere.

    Returns ``(doc_a, doc_b, hamming)``."""
    sig = phash64(df, col).localCheckpoint(eager=False)
    banded = sig.select(
        "doc_id", F.posexplode("bands").alias("band", "word"))
    buckets = (banded.groupBy("band", "word")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .where(F.size("ids") > 1))
    pairs = (buckets.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b)))"
    ))).alias("p")).select("p.doc_a", "p.doc_b").distinct())
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    F.col("bands").alias("ba"))
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    F.col("bands").alias("bb"))
    ham = F.expr("aggregate(zip_with(ba, bb, (x, y) -> "
                 "bit_count(x ^ y)), 0, (acc, v) -> acc + v)")
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    ham.cast("int").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def phash_near_dup_sql(table: str = "documents",
                       max_hamming: int = 10) -> str:
    bys = ",\n         ".join(
        f"('0x' || substr(hx, ({i} * n) // 64 * 2 + 1, 2))::INT AS by{i}"
        for i in range(PHASH_BITS))
    tot = " + ".join(f"by{i}" for i in range(PHASH_BITS))
    bands = ",\n         ".join(
        "CAST(" + " + ".join(
            f"(CASE WHEN by{b * 16 + j} * 64 > tot THEN {1 << j} "
            "ELSE 0 END)" for j in range(16)) + f" AS INTEGER) AS w{b}"
        for b in range(PHASH_BANDS))
    unband = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, w{b} AS word, w0, w1, w2, w3 "
        "FROM sig" for b in range(PHASH_BANDS))
    ham = " + ".join(f"bit_count(xor(a.w{b}::BIGINT, b.w{b}::BIGINT))"
                     for b in range(PHASH_BANDS))
    return f"""
WITH raw AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM {table} WHERE octet_length(encode(text)) > 0
), bys AS (
  SELECT doc_id,
         {bys}
  FROM raw
), tots AS (
  SELECT *, {tot} AS tot FROM bys
), sig AS (
  SELECT doc_id,
         {bands}
  FROM tots
), banded AS ({unband})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(({ham}) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.word = b.word AND a.doc_id < b.doc_id
WHERE ({ham}) <= {max_hamming}
"""


VAD_FRAME = 16          # bytes per analysis frame
VAD_ENERGY = 150_000    # voiced iff sum of squared samples exceeds this


def energy_vad(df: DataFrame, col: str = "text",
               frame: int = VAD_FRAME,
               threshold: int = VAD_ENERGY) -> DataFrame:
    """Audio-style voice-activity detection over an opaque payload —
    the Spark-side plumbing of a speech-segmentation stage (payload →
    fixed frames → per-frame energy → threshold → contiguous voiced
    segments), with the payload's bytes standing in for PCM samples
    per the module's codec-stub contract. Per document: frame count,
    voiced-frame count, number of contiguous voiced segments, and the
    peak frame energy (exact int64 sums of squares — engine-portable).

    Vectorized per Arrow batch: frombuffer → reshape(n_frames, frame)
    → square-sum along axis 1; segment starts are a boolean diff.
    Documents shorter than one frame emit nothing (no partial-frame
    semantics to disagree over). Map-only — zero shuffles until
    whatever consumes the segments."""
    from typing import Iterator

    def _vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nfs, nvs, segs, mxs = [], [], [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf[col]):
                buf = (t or "").encode("utf-8")
                nf = len(buf) // frame
                if nf == 0:
                    continue
                arr = np.frombuffer(buf, dtype=np.uint8)[:nf * frame]
                en = (arr.astype(np.int64) ** 2).reshape(
                    nf, frame).sum(axis=1)
                voiced = en > threshold
                starts = int(voiced[0]) + int(
                    (voiced[1:] & ~voiced[:-1]).sum())
                ids.append(doc_id)
                nfs.append(nf)
                nvs.append(int(voiced.sum()))
                segs.append(starts)
                mxs.append(int(en.max()))
            yield pd.DataFrame({"doc_id": ids, "n_frames": nfs,
                                "n_voiced": nvs, "n_segments": segs,
                                "max_energy": mxs})

    return df.select("doc_id", col).mapInPandas(
        _vad, "doc_id long, n_frames long, n_voiced long, "
              "n_segments long, max_energy long")


def energy_vad_sql(table: str = "documents", frame: int = VAD_FRAME,
                   threshold: int = VAD_ENERGY) -> str:
    # ASCII corpus: unicode(char) == byte value, so the SQL replays the
    # byte arithmetic exactly
    return f"""
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) // {frame} AS nf
  FROM {table} WHERE octet_length(encode(text)) >= {frame}
), px AS (
  SELECT doc_id, nf, unnest(range(0, nf * {frame})) AS i, text FROM b
), en AS (
  SELECT doc_id, nf, i // {frame} AS f,
         sum(unicode(substr(text, CAST(i + 1 AS INT), 1))
             * unicode(substr(text, CAST(i + 1 AS INT), 1))) AS e
  FROM px GROUP BY 1, 2, 3
), v AS (
  SELECT doc_id, nf, f, e, (e > {threshold}) AS voiced,
         lag(e > {threshold}) OVER (PARTITION BY doc_id ORDER BY f)
           AS prev
  FROM en
)
SELECT doc_id, CAST(min(nf) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
         AS n_voiced,
       CAST(sum(CASE WHEN voiced AND (prev IS NULL OR NOT prev)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
       CAST(max(e) AS BIGINT) AS max_energy
FROM v GROUP BY 1
"""
