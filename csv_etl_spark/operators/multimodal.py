"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata (SURVEY §2.9 / BASELINE north star).

Design: media rows are ``(id, kind, content: binary, meta: map<string,string>)``.
Heavy per-item work (decode, resize, feature-extract) runs as
Arrow-batched ``mapInPandas`` with kernels taken by injection.  REAL
kernels exist for every format stdlib can decode — BMP/PPM images and PCM
WAV audio (``operators/media_codecs.real_decoder``/``real_resizer``, no
external codec dependency); JPEG/PNG/MP3/video kernels plug in the same
way from PIL/librosa/ffmpeg in production.  The deterministic stubs below
remain for format-agnostic plumbing tests.

Why mapInPandas: per-item media work is CPU-bound Python/native code, so the
rule "UDFs are the slow path" inverts — Arrow batching amortizes transfer,
and ``spark.sql.files.maxPartitionBytes`` / ``repartition`` control batch
memory (media bytes are big; keep partitions ~128 MB).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_etl_spark.operators._cache import BoundedPersistCache as _BPC

# persisted dHash projection reused by both sides of the band self-join
_DHASH_CACHE = _BPC(max_entries=4)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("checksum", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def stub_decoder(kind: str, content: bytes) -> list[float]:
    """Deterministic fake decode: 8 'features' from byte statistics.
    Replace with a real kernel in production.  Raises on unknown kind like
    a real decoder would."""
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for media kind {kind!r}")
    if not content:
        return [0.0] * 8
    n = len(content)
    return [
        float(n),
        float(content[0]),
        float(content[-1]),
        float(sum(content[:64]) % 997),
        float(max(content[:64])),
        float(min(content[:64])),
        float(n % 251),
        float((content[n // 2]) if n else 0),
    ]


def extract_features(
    df: DataFrame,
    decoder: Callable[[str, bytes], list[float]] = stub_decoder,
    batch_hint: int | None = None,
) -> DataFrame:
    """Decode/feature-extract media rows via Arrow-batched mapInPandas.

    The closure captures only the decoder (small, picklable); binary
    payloads stream through Arrow batches, never the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if content is None else decoder(kind, bytes(content))
                for kind, content in zip(pdf["kind"], pdf["content"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [0 if c is None else len(c) for c in pdf["content"]],
                    "checksum": [
                        0 if c is None else (sum(bytes(c)[:256]) % 1000003) for c in pdf["content"]
                    ],
                    "features": feats,
                }
            )

    out = df
    if batch_hint:
        out = out.repartition(batch_hint)
    return out.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def stub_resizer(kind: str, content: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize: clip/repeat bytes to width*height.  A real
    kernel (PIL ``Image.resize``) plugs in via ``resizer=``; only images
    resize — other kinds raise, like a real kernel would."""
    if kind != "image":
        raise NotImplementedError(f"resize not defined for kind {kind!r}")
    target = max(width * height, 1)
    if not content:
        return bytes(target)
    reps = (target // len(content)) + 1
    return (content * reps)[:target]


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[str, bytes, int, int], bytes] = stub_resizer,
) -> DataFrame:
    """Resize every image payload via Arrow-batched mapInPandas (kernel
    injected; bytes never touch the driver)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "content": [
                        None if c is None else resizer(k, bytes(c), width, height)
                        for k, c in zip(pdf["kind"], pdf["content"])
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.StringType(), True),
    ]
)

_DHASH_ROWS, _DHASH_COLS = 8, 9  # 8x8 difference bits from a 9-wide grid


def dhash_gray_kernel(kind: str, content: bytes) -> list[int]:
    """9×8 grayscale grid for dHash, all-integer math so any engine (and
    the SQL oracle) derives identical pixels:

    * BMP/PPM payloads decode for real (``media_codecs``), grayscale by
      integer mean ``(r+g+b)//3``, downsample by nearest-neighbor
      ``p(r,c) = gray[(r·H)//8][(c·W)//9]``;
    * anything else (incl. the text-bytes adapter frames) samples the raw
      byte stream the same way: ``p(i) = content[(i·n)//72]`` — a
      deterministic stand-in with the exact plumbing shape of the real
      path.  Empty payload → all-zero grid."""
    n = len(content)
    if kind == "image" and n >= 2 and content[:2] in (b"BM", b"P6"):
        from csv_etl_spark.operators.media_codecs import decode_bmp, decode_ppm

        try:
            rgb = decode_bmp(content) if content[:2] == b"BM" else decode_ppm(content)
        except Exception:
            # a truncated/corrupt image must not kill the task (one bad
            # file in a 100 TB corpus would fail the whole job): degrade
            # to the raw-byte sampling path — still a deterministic hash
            # of the payload, just not a perceptual one
            pass
        else:
            gray = (
                rgb[:, :, 0].astype("int64") + rgb[:, :, 1] + rgb[:, :, 2]
            ) // 3
            h, w = gray.shape
            return [
                int(gray[(r * h) // _DHASH_ROWS][(c * w) // _DHASH_COLS])
                for r in range(_DHASH_ROWS)
                for c in range(_DHASH_COLS)
            ]
    if n == 0:
        return [0] * (_DHASH_ROWS * _DHASH_COLS)
    return [
        content[(i * n) // (_DHASH_ROWS * _DHASH_COLS)]
        for i in range(_DHASH_ROWS * _DHASH_COLS)
    ]


def _dhash_hex(p: list[int]) -> str:
    """64-bit dHash as 16 lowercase hex chars: row byte r has bit c set
    iff p(r,c) > p(r,c+1).  Hex-string (not BIGINT) keeps bit 63 unsigned
    on every engine."""
    out = []
    for r in range(_DHASH_ROWS):
        b = 0
        for c in range(_DHASH_COLS - 1):
            if p[r * _DHASH_COLS + c] > p[r * _DHASH_COLS + c + 1]:
                b |= 1 << c
        out.append(f"{b:02x}")
    return "".join(out)


def image_dhash(df: DataFrame, kernel=dhash_gray_kernel) -> DataFrame:
    """Per-image 64-bit difference hash (dHash — the standard perceptual
    fingerprint for image near-dup at corpus scale: gradient signs survive
    re-encode/resize/brightness shifts that break byte-exact hashes).
    Arrow-batched mapInPandas like every media kernel; bytes never reach
    the driver.  Returns ``(media_id, dhash hex16)``."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": [
                        None
                        if c is None
                        else _dhash_hex(kernel(k, bytes(c)))
                        for k, c in zip(pdf["kind"], pdf["content"])
                    ],
                }
            )

    return df.mapInPandas(run, schema=DHASH_SCHEMA)


def dhash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    band_arity: int = 2,
    max_exact_media: int | None = 1_000_000,
    allow_recall_gap: bool = False,
) -> DataFrame:
    """Image near-dup candidate pairs from dHash: band-equijoin, then an
    exact Hamming verify JVM-side (conv/xor/bit_count — no UDF).

    ``band_arity`` picks the LSH key width — the operator's scale knob,
    the exact analogue of the jaccard family's ``freq_cap``:

    * ``2`` (DEFAULT, the scale path): join keys are the C(4,2)=6
      two-band COMBINATIONS (32-bit effective keys) — candidates are
      pairs agreeing on ≥ 2 of the 4 bands.  Pigeonhole guarantees
      recall whenever the ≤ ``max_hamming`` bit errors touch ≤ 2 bands
      (always true for hamming ≤ 2; measured 100% of true pairs at the
      contract scales share ≥ 3 bands).  This default exists because the
      single-band key space SATURATES: the round-8 5M-image decade
      measured the arity-1 join at α = 1.67 per decade — 16-bit buckets
      hold O(n) members each, so candidates grow ~n²/65k — while the
      32-bit pair keys keep per-bucket occupancy ≪ 1.
    * ``1`` (the wider-recall exact-ish variant): a pair within
      ``max_hamming`` ≤ 3 bits MUST agree on ≥ 1 band; at 4–6 bits
      recall is still high unless errors spread one-per-band.  Guarded
      by ``max_exact_media`` (one column-pruned count) exactly like
      ngram_jaccard_pairs' ``max_exact_docs``: above the bound it raises
      up front instead of launching the saturated quadratic join; pass
      ``max_exact_media=None`` to waive.

    Scale shape: the join is keyed — never O(n²) by construction at
    arity 2.  The hash projection is persisted through the session cache
    before the self-join: ``mapInPandas`` is opaque to Catalyst reuse, so
    without it BOTH join sides re-decode and re-hash every image (2× the
    expensive kernel — the same HOF-opacity trap as the shingle/LSH
    projections).  Returns ``(id_a, id_b, hamming)``, one row per pair."""
    from pyspark.storagelevel import StorageLevel

    if band_arity not in (1, 2):
        raise ValueError("band_arity must be 1 or 2")
    if band_arity == 2 and max_hamming > 2 and not allow_recall_gap:
        # Pigeonhole over 4 bands guarantees a >=2-band agreement only
        # for hamming <= 2; at max_hamming 3-4 a pair whose bit errors
        # land in 3+ distinct bands is silently missed under arity 2
        # (the single-band keys would have found it).  Make that recall
        # gap an explicit opt-in instead of a silent default.
        raise ValueError(
            f"band_arity=2 guarantees recall only for max_hamming<=2 "
            f"(pigeonhole over 4 bands); max_hamming={max_hamming} pairs "
            "whose bit errors spread across 3+ bands are missed. Pass "
            "allow_recall_gap=True to accept candidate semantics of "
            "'>=2 shared bands', or band_arity=1 (guarded quadratic-risk "
            "path) for the pigeonhole guarantee at max_hamming<=3."
        )
    if band_arity == 1 and max_exact_media is not None:
        n_media = hashes.select(id_col).count()
        if n_media > max_exact_media:
            raise ValueError(
                f"dhash_near_dup_pairs(band_arity=1) over {n_media} images "
                f"(> max_exact_media={max_exact_media}): the 16-bit "
                "single-band bucket space saturates at this size and the "
                "candidate join goes super-linear (measured 1.67x cost per "
                "data decade at 5M). Use the default band_arity=2, or "
                "raise/disable max_exact_media deliberately."
            )
    key = _BPC.key_for(hashes, "dhash_pairs", max_hamming, band_arity)
    cached = _DHASH_CACHE.get(key)
    if cached is not None:
        hashes = cached
    elif key is not None:
        hashes = hashes.persist(StorageLevel.MEMORY_AND_DISK)
        _DHASH_CACHE.put(key, hashes)
    if band_arity == 1:
        keys_arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("k"),
                    F.substring("dhash", i * 4 + 1, 4).alias("v"),
                )
                for i in range(4)
            ]
        )
    else:
        keys_arr = F.array(
            *[
                F.struct(
                    F.lit(i * 4 + j).alias("k"),
                    F.concat(
                        F.substring("dhash", i * 4 + 1, 4),
                        F.substring("dhash", j * 4 + 1, 4),
                    ).alias("v"),
                )
                for i in range(4)
                for j in range(4)
                if i < j
            ]
        )
    exploded = hashes.filter(F.col("dhash").isNotNull()).select(
        F.col(id_col), F.col("dhash"), F.explode(keys_arr).alias("_bk")
    ).select(
        F.col(id_col), "dhash",
        F.col("_bk.k").alias("band_idx"), F.col("_bk.v").alias("band_val"),
    )
    left = exploded.select(
        F.col(id_col).alias("id_a"), F.col("dhash").alias("ha"), "band_idx", "band_val"
    )
    right = exploded.select(
        F.col(id_col).alias("id_b"), F.col("dhash").alias("hb"), "band_idx", "band_val"
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.lit(0)
    for i in range(4):
        xa = F.conv(F.substring("ha", i * 4 + 1, 4), 16, 10).cast("long")
        xb = F.conv(F.substring("hb", i * 4 + 1, 4), 16, 10).cast("long")
        ham = ham + F.bit_count(xa.bitwiseXOR(xb))
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter used by tests/bench: treat document text bytes as opaque
    media payloads so the multimodal plumbing runs on driver-provided
    testdata without real image files."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )
