"""Multimodal column operators: image/audio/video as opaque binary columns.

Design for 100 TB multimodal corpora (the driver's north star — the
reference itself is text/tabular only):

- a media column is ``binary`` payload + typed metadata struct
  (``media_type``, ``width``/``height``/``duration_ms``, ``codec``);
- decode / feature-extract / resize / frame-sample run as **Arrow-batched
  ``mapInPandas``** — payload bytes never pass through Python row-by-row,
  and the work parallelizes per input split;
- partition sizing matters more than anything else here: payloads are
  megabytes, so operators repartition by byte-budget, not row-count
  (``target_batch_bytes``).

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this container, so the
decode kernels are stubbed behind import-guards with a clearly-marked
deterministic fake (hash-derived pseudo-features). The Spark-side plumbing —
schemas, batching, UDF signatures, partitioning — is real and tested; swap
``_decode_image_real`` in when the codec libs exist.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from systems_spark.operators.base import Operator
from systems_spark.sources import hadoop_fs

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("codec", T.StringType()),
])


def _decode_image_real(payload: bytes, out_size: int):  # pragma: no cover
    """Real decoder — requires PIL; not available in this container."""
    raise NotImplementedError(
        "image codecs not installed; deterministic fake used instead"
    )


def _make_prober():
    """Factory for the container-HEADER prober (built by a factory so
    the returned closure cloudpickles BY VALUE into executors — no
    import of this package needed on workers, the module's convention).

    Unlike decode (which honestly stubs — the codec libs are not in
    this container), header probing needs no codec: container formats
    carry their geometry in plainly-structured leading bytes, so
    format sniffing + dimensions/sample-rate extraction is REAL here —
    the ffprobe-lite every multimodal ingest pipeline runs first, at
    zero decode cost."""
    import struct

    _SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}

    def probe(payload):
        none = {"format": None, "width": None, "height": None,
                "sample_rate": None, "channels": None}
        p = payload or b""
        try:
            if p[:8] == b"\x89PNG\r\n\x1a\n" and len(p) >= 24:
                w, h = struct.unpack(">II", p[16:24])
                return {"format": "png", "width": w, "height": h,
                        "sample_rate": None, "channels": None}
            if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
                w, h = struct.unpack("<HH", p[6:10])
                return {"format": "gif", "width": w, "height": h,
                        "sample_rate": None, "channels": None}
            if p[:2] == b"BM" and len(p) >= 26:
                w, h = struct.unpack("<ii", p[18:26])
                return {"format": "bmp", "width": w, "height": abs(h),
                        "sample_rate": None, "channels": None}
            if p[:2] == b"\xff\xd8":
                i = 2
                while i + 9 <= len(p) and p[i] == 0xFF:
                    marker = p[i + 1]
                    if marker in _SOF:
                        h, w = struct.unpack(">HH", p[i + 5:i + 9])
                        return {"format": "jpeg", "width": w,
                                "height": h, "sample_rate": None,
                                "channels": None}
                    if marker == 0xD8 or 0xD0 <= marker <= 0xD7 \
                            or marker == 0x01:
                        i += 2
                        continue
                    (seglen,) = struct.unpack(">H", p[i + 2:i + 4])
                    i += 2 + seglen
                return none
            if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                i = 12
                while i + 8 <= len(p):
                    cid = p[i:i + 4]
                    (size,) = struct.unpack("<I", p[i + 4:i + 8])
                    if cid == b"fmt " and i + 16 <= len(p):
                        (ch,) = struct.unpack("<H", p[i + 10:i + 12])
                        (sr,) = struct.unpack("<I", p[i + 12:i + 16])
                        return {"format": "wav", "width": None,
                                "height": None, "sample_rate": sr,
                                "channels": ch}
                    i += 8 + size + (size & 1)
                return none
        except struct.error:
            return none
        return none

    return probe


#: driver-side / test handle for the same parser the operator ships
probe_media = _make_prober()

MEDIA_PROBE_SCHEMA = T.StructType([
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
])


def _fake_features(payload: bytes, dim: int) -> list:
    """Deterministic pseudo-features from payload bytes (md5-seeded).

    CLEARLY A STUB: stands in for a decoded-image embedding so the
    distributed plumbing (schemas, batch shapes, joins downstream) is
    exercised end-to-end with stable values."""
    h = hashlib.md5(payload or b"").digest()
    out = []
    for i in range(dim):
        b = h[i % 16]
        out.append(round((b * (i + 1) % 255) / 255.0, 6))
    return out


#: above this many input files the driver-side size listing samples every
#: k-th file instead of stat-ing all of them (one py4j RPC per file)
_BYTE_BUDGET_MAX_FILE_STATS = 1024

#: optimized-plan node names that mean "compute happens between the file
#: scan and this operator" — file statistics no longer describe the data
_NON_BARE_PLAN_NODES = (
    "Join", "Aggregate", "Window", "Generate", "Sort", "Union",
    "Deduplicate", "GlobalLimit", "LocalLimit", "Expand", "Sample",
    "MapInPandas", "FlatMapGroupsInPandas", "MapPartitions", "Repartition",
)


def _bare_scan_total_bytes(df: DataFrame) -> "int | None":
    """Total on-disk bytes of ``df``'s input files when the plan is a bare
    file scan (projections/filters only above the relation) — ZERO Spark
    jobs; ``None`` when compute sits between the scan and here.

    On-disk is a fine proxy for payload bytes here: media payloads (JPEG /
    MP4 / FLAC) are already entropy-coded, so parquet stores them ~1:1.
    Filters above the scan make this an OVERestimate, which errs toward
    MORE partitions — the memory-safe direction. With >1024 files, stat
    every k-th file and extrapolate (bounds driver RPC count)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if any(node in plan for node in _NON_BARE_PLAN_NODES):
            return None
        files = df.inputFiles()
        if not files:
            return None
        step = max(1, len(files) // _BYTE_BUDGET_MAX_FILE_STATS)
        sampled = files[::step]
        total = 0
        for f in sampled:
            fs, p = hadoop_fs(df.sparkSession, f)
            total += fs.getFileStatus(p).getLen()
        return int(total * (len(files) / len(sampled)))
    except Exception:  # plan/FS introspection is best-effort, never fatal
        return None


def _repartition_by_byte_budget(df: DataFrame, payload_col: str,
                                target_batch_bytes: int) -> DataFrame:
    """Repartition so each task holds ~``target_batch_bytes`` of payload.

    Media payloads are megabytes, so row-count partitioning over- or
    under-fills executor memory by orders of magnitude. Two estimation
    paths (r4 — replaces the r3 ``limit(2048)`` sample, which was biased
    whenever payload size correlated with file order, plus a separate
    full ``count()`` job):

    - **bare file scan** (the common case): total bytes from file-system
      statistics — no Spark job at all.
    - **derived input**: ONE exact aggregation — ``sum(length(payload))``
      and ``count(*)`` in the same job. This executes the upstream chain
      once before the real pass (unavoidable: sizing requires the data);
      persist the input first if that chain is expensive.
    """
    import math

    total_bytes = _bare_scan_total_bytes(df)
    if total_bytes is None:
        stats = df.agg(
            F.sum(F.length(F.col(payload_col))).alias("_total"),
            F.count(F.lit(1)).alias("_n"),
        ).first()
        if not stats or not stats["_n"] or stats["_total"] is None:
            return df
        total_bytes = int(stats["_total"])
    if total_bytes <= 0:
        return df
    n_parts = max(1, math.ceil(total_bytes / float(target_batch_bytes)))
    return df.repartition(n_parts)


class MediaFeatureExtract(Operator):
    """binary payload column → fixed-dim float feature vector.

    Arrow-batched; one Python call per batch; payloads stay in Arrow buffers.
    ``target_batch_bytes`` controls repartitioning so a task's payloads fit
    executor memory (the knob that matters at 100 TB)."""

    def __init__(self, payload_col: str = "payload", output_col: str = "features",
                 dim: int = 16, target_batch_bytes: Optional[int] = None,
                 use_real_codec: bool = False):
        self.payload_col = payload_col
        self.output_col = output_col
        self.dim = int(dim)
        self.target_batch_bytes = target_batch_bytes
        self.use_real_codec = use_real_codec
        self.requires = (payload_col,)

    def transform(self, df: DataFrame) -> DataFrame:
        result_schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField(self.output_col, T.ArrayType(T.FloatType()))]
        )
        payload_col, dim, use_real = self.payload_col, self.dim, self.use_real_codec
        out_col = self.output_col  # closures must not capture self (pickling)

        if self.target_batch_bytes:
            df = _repartition_by_byte_budget(
                df, self.payload_col, self.target_batch_bytes
            )

        def extract(batches):
            # self-contained closure: the fake kernel is nested (module-level
            # functions would pickle by import path and require the package
            # on executor workers)
            import hashlib as _hl

            def fake_features(payload, d):
                h = _hl.md5(payload or b"").digest()
                return [round((h[i % 16] * (i + 1) % 255) / 255.0, 6) for i in range(d)]

            for pdf in batches:
                if use_real:
                    raise NotImplementedError(
                        "image codecs not installed in this environment"
                    )
                feats = [fake_features(p, dim) for p in pdf[payload_col]]
                pdf = pdf.copy()
                pdf[out_col] = feats
                yield pdf

        return df.mapInPandas(extract, schema=result_schema)

    def compute_output_schema(self, input_schema):
        from systems_spark.schema import ColumnSchema, Schema

        return input_schema + Schema([
            ColumnSchema(self.output_col, "float32", is_list=True,
                         dims=(None, self.dim), tags=frozenset({"EMBEDDING"}))
        ])

    def get_params(self):
        return {"payload_col": self.payload_col, "output_col": self.output_col,
                "dim": self.dim, "target_batch_bytes": self.target_batch_bytes,
                "use_real_codec": self.use_real_codec}


class MediaProbe(Operator):
    """binary payload column → typed probe struct ``{format, width,
    height, sample_rate, channels}`` by REAL container-header parsing
    (PNG IHDR, JPEG SOF walk, GIF/BMP headers, RIFF/WAVE fmt chunk) —
    no codec libraries, no decode: the first pass every multimodal
    ingest runs to route/validate/bucket payloads before any expensive
    decode. Arrow-batched ``mapInPandas``; unknown/corrupt payloads
    yield a NULL-format row, never an error (routing decides what to
    do with them)."""

    def __init__(self, payload_col: str = "payload",
                 output_col: str = "media_probe",
                 target_batch_bytes: Optional[int] = None):
        self.payload_col = payload_col
        self.output_col = output_col
        self.target_batch_bytes = target_batch_bytes
        self.requires = (payload_col,)

    def transform(self, df: DataFrame) -> DataFrame:
        result_schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField(self.output_col, MEDIA_PROBE_SCHEMA)])
        payload_col, out_col = self.payload_col, self.output_col
        if self.target_batch_bytes:
            df = _repartition_by_byte_budget(
                df, self.payload_col, self.target_batch_bytes)
        probe = _make_prober()  # pickles by value — see factory note

        def run(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf[out_col] = [probe(p) for p in pdf[payload_col]]
                yield pdf

        return df.mapInPandas(run, schema=result_schema)

    def compute_output_schema(self, input_schema):
        from systems_spark.schema import ColumnSchema, Schema

        return input_schema + Schema([
            ColumnSchema(self.output_col, "struct")])

    def get_params(self):
        return {"payload_col": self.payload_col,
                "output_col": self.output_col,
                "target_batch_bytes": self.target_batch_bytes}


class MediaResize(Operator):
    """Resize a media payload to a target (width, height), updating the
    typed metadata struct alongside the payload.

    Real kernel would be PIL/ffmpeg scaling (absent from this container —
    honestly stubbed): the deterministic fake emits a payload whose length
    is proportional to the target pixel count (every ``stride``-th byte of
    the source, cycled), so downstream size/partitioning behavior is
    realistic. The Spark-side contract is the real thing: Arrow-batched
    ``mapInPandas``, payload + metadata struct updated together, schema
    preserved for downstream ops (FrameSample / MediaFeatureExtract compose
    after it)."""

    def __init__(self, payload_col: str = "payload", meta_col: Optional[str] = "media_meta",
                 width: int = 224, height: int = 224,
                 bytes_per_pixel: int = 3, use_real_codec: bool = False):
        self.payload_col = payload_col
        self.meta_col = meta_col
        self.width = int(width)
        self.height = int(height)
        self.bytes_per_pixel = int(bytes_per_pixel)
        self.use_real_codec = use_real_codec
        self.requires = (payload_col,) if meta_col is None else (payload_col, meta_col)

    def transform(self, df: DataFrame) -> DataFrame:
        result_schema = T.StructType(list(df.schema.fields))
        payload_col, meta_col = self.payload_col, self.meta_col
        w, h, bpp = self.width, self.height, self.bytes_per_pixel
        use_real = self.use_real_codec
        out_cols = [f.name for f in result_schema.fields]

        def resize(batches):
            target = w * h * bpp

            def fake_resize(p):
                p = p or b""
                if not p:
                    return b""
                # cycle source bytes to the target length — deterministic,
                # size-faithful stand-in for a real pixel resample
                reps = target // len(p) + 1
                return (p * reps)[:target]

            for pdf in batches:
                if use_real:
                    raise NotImplementedError(
                        "image codecs not installed in this environment"
                    )
                pdf = pdf.copy()
                pdf[payload_col] = [fake_resize(p) for p in pdf[payload_col]]
                if meta_col is not None and meta_col in pdf.columns:
                    pdf[meta_col] = [
                        {**(m or {}), "width": w, "height": h}
                        for m in pdf[meta_col]
                    ]
                yield pdf[out_cols]

        return df.mapInPandas(resize, schema=result_schema)

    def compute_output_schema(self, input_schema):
        return input_schema

    def get_params(self):
        return {"payload_col": self.payload_col, "meta_col": self.meta_col,
                "width": self.width, "height": self.height,
                "bytes_per_pixel": self.bytes_per_pixel,
                "use_real_codec": self.use_real_codec}


class FrameSample(Operator):
    """video payload → N sampled frame payloads (exploded rows).

    Stub kernel slices the payload deterministically; the real kernel would
    ffmpeg-decode keyframes. Demonstrates the explode-shaped media op whose
    output is bigger than its input — the repartition-after matters."""

    def __init__(self, payload_col: str = "payload", n_frames: int = 4,
                 frame_col: str = "frame"):
        self.payload_col = payload_col
        self.n_frames = int(n_frames)
        self.frame_col = frame_col
        self.requires = (payload_col,)

    def transform(self, df: DataFrame) -> DataFrame:
        result_schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField("frame_idx", T.IntegerType()),
               T.StructField(self.frame_col, T.BinaryType())]
        )
        payload_col, n = self.payload_col, self.n_frames
        frame_col = self.frame_col  # no self in the closure (pickling)
        out_cols = [f.name for f in result_schema.fields]

        def sample(batches):
            import numpy as np

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # vectorized row replication (iterrows + dict-per-row was
                # the Python-side hot spot); only the byte slicing loops
                rep = pdf.loc[pdf.index.repeat(n)].reset_index(drop=True)
                rep["frame_idx"] = np.tile(np.arange(n, dtype="int32"), len(pdf))
                frames = []
                for p in pdf[payload_col]:
                    p = p or b""
                    step = max(1, len(p) // n)
                    frames.extend(
                        bytes(p[i * step:(i + 1) * step]) for i in range(n)
                    )
                rep[frame_col] = frames
                yield rep[out_cols]

        return df.mapInPandas(sample, schema=result_schema)

    def compute_output_schema(self, input_schema):
        from systems_spark.schema import ColumnSchema, Schema

        return input_schema + Schema([
            ColumnSchema("frame_idx", "int32"),
            ColumnSchema(self.frame_col, "binary"),
        ])

    def get_params(self):
        return {"payload_col": self.payload_col, "n_frames": self.n_frames,
                "frame_col": self.frame_col}
