"""Segment build: compressed posting-list files + term dictionary +
manifest with per-partition lineage and resume (SURVEY.md §2.4 B2-B8).

The dataflow (north_star made explicit):

  corpus ──build_postings──▶ postings_raw (parquet, bucketed by term)   [stage 1]
     │ df-sketch → salt map (hot-term skew split)
     ▼
  repartition(term, salt) + sort(term, salt, doc_id) + mapInArrow(encode)
     │   ←─ the salted repartition-by-term shuffle; one vectorized kernel
     │   per ~2k postings cuts the sorted (term, salt) runs into delta+
     │   varint-encoded 128-doc blocks with skip metadata
     ▼
  segments/ (parquet, partitionBy(term_bucket))                         [stage 2]
     ▼
  groupBy(term) merge ──▶ terms/ dictionary (df, cf, ubs, buckets)      [stage 3]
  stats.json + manifest/ (build_id, stage, lineage rows, metrics)       [stage 4]

Each stage is idempotent and checkpointed: a manifest row (build_id,
stage, status=complete, metrics) plus the stage's _SUCCESS marker is the
resume point — ``build_segments(resume=True)`` skips completed stages
byte-identically (corpus generation and encoding are deterministic).
Skew: a term with df > hot_df_threshold is split into
ceil(df/threshold) salted sub-lists (salt = xxhash64(doc_id) % n), so
no single shuffle partition receives an unbounded posting list; the
dictionary merge (stage 3) re-aggregates the sub-lists.

Reference anchors: segment-per-commit layout /root/reference/src/db/
core.rs:238-249; writer commit = publish point /root/reference/src/db/
document.rs:65. Tantivy's 128-doc block format is public; encoding lives
in fugu_spark.codecs.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import fsio
from .codecs import BLOCK_SIZE, CODEC_VARINT, encode_doc_streams, varint_encode_lens

# On-disk segment layout version, persisted in stats.json. 2 = codec-tagged
# posting streams (doc ids PFOR-or-varint per block, rest varint); readers
# refuse other formats rather than mis-decode.
SEGMENT_FORMAT = 2
from .postings import POSTINGS_ENC_SCHEMA, CorpusStats, build_postings
from .tokenizer import DEFAULT_MODE

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("min_doc_id", T.LongType(), False),
        T.StructField("max_doc_id", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_doc_len", T.IntegerType(), False),
        T.StructField("doc_ids_enc", T.BinaryType(), False),
        T.StructField("tfs_enc", T.BinaryType(), False),
        T.StructField("doc_lens_enc", T.BinaryType(), False),
        T.StructField("pos_counts_enc", T.BinaryType(), True),
        T.StructField("positions_enc", T.BinaryType(), True),
        T.StructField("term_bucket", T.IntegerType(), False),
        # total encoded bytes of the 5 streams, precomputed at encode time
        # so dictionary merges aggregate METADATA columns only — without
        # it, stage 3 / every incremental merge re-reads the full binary
        # posting payload just to sum lengths (at 100 TB: the whole index)
        T.StructField("bytes_enc", T.LongType(), False),
    ]
)
_SEGMENT_ARROW_SCHEMA = to_arrow_schema(SEGMENT_SCHEMA)

# Explicit read schemas: a build over a tiny/empty corpus can leave a
# stage directory with zero data files, where schema inference fails.
RAW_READ_SCHEMA = T.StructType(
    POSTINGS_ENC_SCHEMA.fields + [T.StructField("term_bucket", T.IntegerType(), False)]
)
SEG_READ_SCHEMA = T.StructType(
    SEGMENT_SCHEMA.fields + [T.StructField("gen", T.IntegerType(), False)]
)
TERMS_SCHEMA = (
    "term string, df bigint, cf bigint, max_tf int, min_doc_len int, "
    "term_bucket int, n_blocks bigint, n_salts bigint, bytes_encoded bigint"
)

MANIFEST_SCHEMA = (
    "build_id string, stage string, partition_key string, status string, "
    "n_postings long, n_blocks long, bytes_encoded long, wall_sec double, ts double"
)


STAGE_OUTPUT = {
    "postings_raw": "postings_raw",
    "segments": "segments",
    "terms": "terms",
    "stats": "stats.json",
}


def _marker_path(index_dir: str, stage: str) -> str:
    return fsio.join(index_dir, f"_stage_{stage}.json")


def _write_marker(index_dir: str, stage: str, payload: dict) -> None:
    fsio.write_text_atomic(
        _marker_path(index_dir, stage),
        json.dumps({"stage": stage, "status": "complete", **payload}),
    )


def _read_marker(index_dir: str, stage: str) -> dict | None:
    p = _marker_path(index_dir, stage)
    if not fsio.exists(p):
        return None
    return json.loads(fsio.read_text(p))


def _stage_done(index_dir: str, stage: str) -> bool:
    """Checkpoint test: marker written AND stage output present — pure
    filesystem checks, no Spark job (resume must be near-free)."""
    if _read_marker(index_dir, stage) is None:
        return False
    return fsio.exists(fsio.join(index_dir, STAGE_OUTPUT[stage]))


_MANIFEST_PA_FIELDS = (
    ("build_id", "string"), ("stage", "string"), ("partition_key", "string"),
    ("status", "string"), ("n_postings", "int64"), ("n_blocks", "int64"),
    ("bytes_encoded", "int64"), ("wall_sec", "float64"), ("ts", "float64"),
)


def _append_manifest(spark: SparkSession, index_dir: str, rows: list[tuple]) -> None:
    """A build's lineage is a handful of driver-held rows; writing them
    through a Spark job (createDataFrame → parquet) costs seconds of pure
    scheduler time per build/commit. Write driver-side with pyarrow (same
    schema, Spark-readable directory); non-local index dirs keep the
    Spark write since the driver may not mount their filesystem."""
    path = fsio.join(index_dir, "manifest")
    if fsio.is_uri(path):
        spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(
            path
        )
        return
    import pyarrow.parquet as pq

    fsio.makedirs(path)
    schema = pa.schema([pa.field(n, pa.type_for_alias(t)) for n, t in _MANIFEST_PA_FIELDS])
    cols = list(zip(*rows))
    table = pa.table(
        {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
    )
    pq.write_table(table, f"{fsio.as_local(path)}/part-{uuid.uuid4().hex}.parquet")


# Postings per kernel call: a call takes whole (term, salt) runs up to
# this many postings (a longer run goes alone; salting caps it at
# hot_df_threshold), so the worker's numpy working set stays flat however
# large the Arrow batches are.
ENCODE_CHUNK = 2048


def _cum(nbytes: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(nbytes)]).astype(np.int64)


def _tagged(stream, off: np.ndarray) -> pa.Array:
    """Binary array whose k-th value is the varint codec tag followed by
    ``stream[off[k]:off[k+1]]``; ``off`` tiles the whole byte stream."""
    data = np.insert(np.frombuffer(stream, np.uint8), off[:-1], np.uint8(CODEC_VARINT))
    offsets = pa.py_buffer(off + np.arange(len(off), dtype=np.int64))
    arr = pa.Array.from_buffers(pa.large_binary(), len(off) - 1, [None, offsets, pa.py_buffer(data)])
    return arr.cast(pa.binary())  # raises, never wraps, past int32 offsets


def _encode_runs(rb: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
    """(term, salt, doc_id)-sorted postings whose runs start at ``starts``
    → 128-doc block rows. Every run start is a block start and the delta
    streams reset at each block start, so each stream is encoded once for
    all runs and cut at block boundaries; ``encode_doc_streams`` picks PFOR
    or varint for every block in one call. Streams are codec-tagged."""
    n = rb.num_rows
    run_len = np.diff(np.append(starts, n))
    nb = -(-run_len // BLOCK_SIZE)
    block_id = np.arange(nb.sum()) - np.repeat(np.cumsum(nb) - nb, nb)
    block_starts = np.repeat(starts, nb) + block_id * BLOCK_SIZE
    block_ends = np.minimum(block_starts + BLOCK_SIZE, np.repeat(starts + run_len, nb))
    bounds = np.append(block_starts, n)

    doc_i64 = rb.column("doc_id").to_numpy()
    doc_u = doc_i64.view(np.uint64)
    tfs = rb.column("tf").to_numpy().astype(np.uint64)
    dls = rb.column("doc_len").to_numpy().astype(np.uint64)
    deltas = np.empty_like(doc_u)
    np.subtract(doc_u[1:], doc_u[:-1], out=deltas[1:])
    deltas[block_starts] = doc_u[block_starts]  # per-block absolute base

    if "pos_enc" in rb.schema.names:
        # stage-1 blobs restart their deltas at each posting, so their
        # doc-order concatenation is the position stream (int64 offsets)
        blobs = rb.column("pos_enc").cast(pa.large_binary())
        off = np.frombuffer(blobs.buffers()[1], np.int64)[blobs.offset : blobs.offset + n + 1]
        pos_b = np.frombuffer(blobs.buffers()[2] or b"", np.uint8)[off[0] : off[-1]]
        pos_off = off - off[0]
    else:
        # decoded positions (compaction): deltas restart at each doc
        lists = rb.column("positions")
        flat = lists.flatten().to_numpy().astype(np.uint64)
        tok = lists.offsets.to_numpy().astype(np.int64) - lists.offsets[0].as_py()
        pdel = flat.copy()
        np.subtract(flat[1:], flat[:-1], out=pdel[1:])
        firsts = tok[:-1][tok[:-1] < tok[1:]]
        pdel[firsts] = flat[firsts]
        pos_b, pos_nb = varint_encode_lens(pdel)
        pos_off = _cum(pos_nb)[tok]

    doc_b, doc_nb = varint_encode_lens(deltas)
    doc_enc = pa.array(
        encode_doc_streams(deltas, block_starts, block_ends, doc_b, _cum(doc_nb)), pa.binary()
    )
    tf_b, tf_nb = varint_encode_lens(tfs)
    dl_b, dl_nb = varint_encode_lens(dls)
    tf_enc = _tagged(tf_b, _cum(tf_nb)[bounds])  # also the pos-counts stream
    dl_enc = _tagged(dl_b, _cum(dl_nb)[bounds])
    pos_enc = _tagged(pos_b, pos_off[bounds])
    streams = (doc_enc, tf_enc, dl_enc, tf_enc, pos_enc)
    return pa.RecordBatch.from_pydict(
        {
            "term": rb.column("term").take(pa.array(block_starts)),
            "salt": rb.column("salt").to_numpy()[block_starts],
            "block_id": block_id,
            "n_docs": block_ends - block_starts,
            "sum_tf": np.add.reduceat(tfs, block_starts),
            "min_doc_id": doc_i64[block_starts],
            "max_doc_id": doc_i64[block_ends - 1],
            "max_tf": np.maximum.reduceat(tfs, block_starts),
            "min_doc_len": np.minimum.reduceat(dls, block_starts),
            "doc_ids_enc": doc_enc,
            "tfs_enc": tf_enc,
            "doc_lens_enc": dl_enc,
            "pos_counts_enc": tf_enc,
            "positions_enc": pos_enc,
            "term_bucket": rb.column("term_bucket").to_numpy()[block_starts],
            "bytes_enc": sum(pc.binary_length(a).to_numpy().astype(np.int64) for a in streams),
        },
        schema=_SEGMENT_ARROW_SCHEMA,
    )


def _run_starts(rb: pa.RecordBatch) -> np.ndarray:
    """0 and every row index where the (term, salt) key changes."""
    a, b = rb.slice(1), rb.slice(0, max(rb.num_rows - 1, 0))
    changed = pc.or_(
        pc.not_equal(a.column("term"), b.column("term")),
        pc.not_equal(a.column("salt"), b.column("salt")),
    )
    return np.concatenate([[0], np.flatnonzero(changed.to_numpy(zero_copy_only=False)) + 1])


def _encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over a partition sorted by (term, salt, doc_id):
    one ``_encode_runs`` call per ~ENCODE_CHUNK postings, cut at run
    boundaries. The run still open at the end of a batch may continue in
    the next one, so it is carried over."""
    pending: list[pa.RecordBatch] = []
    for rb in itertools.chain(batches, [None]):  # None: the last run is complete
        if rb is not None:
            pending.append(rb)
        if not sum(b.num_rows for b in pending):
            continue
        rows = pa.Table.from_batches(pending).combine_chunks().to_batches()[0]
        starts = _run_starts(rows)
        bounds = np.append(starts, rows.num_rows)
        done = len(starts) - (rb is not None)
        i = 0
        while i < done:
            j = np.searchsorted(bounds, bounds[i] + ENCODE_CHUNK, side="right") - 1
            j = min(max(i + 1, j), done)
            yield _encode_runs(rows.slice(bounds[i], bounds[j] - bounds[i]), starts[i:j] - bounds[i])
            i = j
        pending = [rows.slice(bounds[done])]


def _dict_agg(seg: DataFrame) -> DataFrame:
    return seg.groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_doc_len").alias("min_doc_len"),
        F.first("term_bucket").alias("term_bucket"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.countDistinct("salt").alias("n_salts"),
        # precomputed at encode time: the dictionary merge reads only the
        # small metadata columns — parquet column pruning skips the
        # binary posting streams entirely
        F.sum("bytes_enc").alias("bytes_encoded"),
    )


def sized_range_partitions(
    rows: DataFrame, target_bytes: int, fallback: int | None = None
) -> int:
    """Range-partition count proportional to the plan's size estimate —
    one partition per ~``target_bytes``. Size comes from Catalyst's plan
    stats (file-scan based, no extra job); when the plan can't estimate
    (unknown → Long.Max sentinel) fall back to ``fallback`` (default: the
    input's current partition count). Used by every range-clustered
    sidecar writer so a metadata-scale table never fans out into
    spark.sql.shuffle.partitions tiny files (ADVICE r4) while a
    corpus-scale one still gets enough write parallelism."""
    size = None
    try:
        size = int(rows._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        pass
    # >= 2^50 bytes is not a real estimate (Catalyst's unknown sentinel,
    # or a blown-up explode multiplier) — treat as unknown
    if size is None or size <= 0 or size >= (1 << 50):
        return fallback if fallback is not None else max(1, rows.rdd.getNumPartitions())
    # cap keeps the count a valid Java int and a sane file count even for
    # pessimistic estimates (2^21 × target_bytes ≈ 0.25 EB at 128 MB)
    return int(min(max(1, -(-size // target_bytes)), 1 << 21))


# metadata-scale sidecars (terms dictionary, filter/date/suggest indexes)
# pack ~128 MB per range partition — small enough to parallelize a 10^9-
# term dictionary write, large enough that a sandbox-scale sidecar is one
# file and one range-sampling pass instead of 200
SIDECAR_PART_BYTES = 128 << 20


def _write_terms(agg: DataFrame, terms_path: str, mode: str = "overwrite") -> None:
    """Dictionary writer: range-partitioned + sorted BY TERM so the
    driver-side pyarrow lookup (_term_meta) prunes to one file + one row
    group per query term. A hash-partitioned unsorted write makes every
    row group span ~the full term range — min/max stats prune nothing,
    and at source-code vocab scale (10^9+ distinct identifiers) a per-
    query dictionary read degenerates into a dictionary scan."""
    agg.repartitionByRange(
        sized_range_partitions(agg, SIDECAR_PART_BYTES), "term"
    ).sortWithinPartitions("term").write.mode(mode).parquet(terms_path)


def merge_dictionary(spark: SparkSession, seg_path: str, terms_path: str) -> None:
    """Stage-3 kernel (B7): distributed merge of per-partition sub-lists
    across salts and generations into the final term dictionary. Like
    Lucene/Tantivy, df/cf count masked-deleted postings until compaction
    (documented divergence from live counts)."""
    _write_terms(
        _dict_agg(spark.read.schema(SEG_READ_SCHEMA).parquet(seg_path)), terms_path
    )


def merge_dictionary_incremental(
    spark: SparkSession, seg_path: str, terms_path: str, new_gen: int
) -> None:
    """Upsert-time dictionary merge: aggregate ONLY the new generation's
    segments (gen= partition pruning) and fold into the existing
    dictionary — cost proportional to the batch, not the index. Every
    dictionary stat is mergeable (df/cf/blocks/bytes sum, max_tf max,
    min_doc_len min); n_salts becomes Σ per-generation salt counts, which
    is the write-amplification figure an operator actually wants.

    The swap is write-new → drop-old → rename (terms parquet can't be
    overwritten while it is also the read source of the merge)."""
    new = _dict_agg(
        spark.read.schema(SEG_READ_SCHEMA).parquet(seg_path).filter(F.col("gen") == new_gen)
    )
    old = spark.read.schema(TERMS_SCHEMA).parquet(terms_path)
    merged = old.unionByName(new).groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_doc_len").alias("min_doc_len"),
        F.first("term_bucket").alias("term_bucket"),
        F.sum("n_blocks").alias("n_blocks"),
        F.sum("n_salts").alias("n_salts"),
        F.sum("bytes_encoded").alias("bytes_encoded"),
    )
    tmp = terms_path + "_next"
    _write_terms(merged, tmp)
    fsio.rmtree(terms_path)
    fsio.rename(tmp, terms_path)
    # drop Spark's cached file listing for the swapped path
    spark.catalog.refreshByPath(terms_path)


def sketch_hot_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    mode: str,
    hot_df_threshold: int,
    fraction: float = 0.05,
    seed: int = 7,
) -> DataFrame:
    """Sampled hot-term sketch for salting (term, n_salts): tokenize a
    ``fraction`` of docs, scale the observed df by 1/fraction, and salt
    terms whose ESTIMATE exceeds the threshold. Used by the fused build
    (checkpoint_postings=False) so the full corpus is tokenized exactly
    ONCE — the exact df-sketch would re-tokenize everything a second
    time when stage 1 isn't materialized. Salting is a performance
    decision only (placement, never semantics), so a sketch miss near
    the threshold costs skew headroom, not correctness; Zipf head terms
    — the ones that matter — are present in any few-percent sample."""
    from .postings import build_postings

    sample = docs if fraction >= 1.0 else docs.sample(fraction=fraction, seed=seed)
    p = build_postings(
        sample, id_col=id_col, text_col=text_col, mode=mode, encode_positions=False
    )
    est = p.groupBy("term").agg((F.count(F.lit(1)) / fraction).alias("df_est"))
    return est.filter(F.col("df_est") > hot_df_threshold).select(
        "term",
        F.ceil(F.col("df_est") / hot_df_threshold).cast("int").alias("n_salts"),
    )


def _salted(raw: DataFrame, hot_df_threshold: int, hot: DataFrame | None = None) -> DataFrame:
    """``raw`` plus its ``salt``: a term with df > hot_df_threshold spreads
    over ceil(df / threshold) sub-lists by xxhash64(doc_id). ``hot``
    (term, n_salts) overrides the exact df-sketch."""
    if hot is None:
        dfreq = raw.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        hot = dfreq.filter(F.col("df") > hot_df_threshold).select(
            "term",
            F.ceil(F.col("df") / hot_df_threshold).cast("int").alias("n_salts"),
        )
    return (
        raw.join(F.broadcast(hot), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("n_salts").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.col("n_salts")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("n_salts")
    )


def encode_postings_df(
    raw: DataFrame,
    seg_path: str,
    hot_df_threshold: int,
    gen: int,
    append: bool,
    hot: DataFrame | None = None,
) -> None:
    """Stage-2 kernel: salted repartition-by-term → sorted, delta+varint
    128-doc blocks, written under segments/gen=N/term_bucket=B/.

    ``raw`` carries positions as stage-1 ``pos_enc`` blobs or as decoded
    ``positions`` lists (compaction). ``hot`` (term, n_salts) overrides
    the exact df-sketch — the fused build passes a sampled sketch so
    ``raw`` is consumed exactly once."""
    # One Arrow kernel per ~ENCODE_CHUNK sorted postings replaced one
    # applyInPandas call per (term, salt), whose fixed cost followed the
    # vocabulary instead of the postings. A/B on a 4-vCPU host, local[4]:
    # perfbench build (400 files, 1,078 terms; 10 pairs) 1,929 → 3,856
    # postings/s median; 20k-row corpus.py build (2.78M postings) stage 2
    # 15.8/17.1 → 11.5/14.0 s, and 18.3/19.5 → 15.4/18.6 s at local[2].
    # Worker peak RSS stayed within 0.2% of the per-group encoder's.
    seg = (
        _salted(raw, hot_df_threshold, hot)
        .repartition("term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id")
        .mapInArrow(_encode_partition, SEGMENT_SCHEMA)
        .withColumn("gen", F.lit(gen))
    )
    seg.write.mode("append" if append else "overwrite").partitionBy(
        "gen", "term_bucket"
    ).parquet(seg_path)


@dataclass
class SegmentIndex:
    spark: SparkSession
    index_dir: str
    terms: DataFrame  # dictionary: term, df, cf, max_tf, min_doc_len, term_bucket, n_blocks
    stats: CorpusStats

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str) -> "SegmentIndex":
        s = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json")))
        fmt = int(s.get("format", 1))
        if fmt != SEGMENT_FORMAT:
            raise ValueError(
                f"segment format {fmt} at {index_dir!r} is not readable by this "
                f"version (expects format {SEGMENT_FORMAT}, codec-tagged streams "
                "since 0.4.0) — rebuild the index"
            )
        terms = spark.read.schema(TERMS_SCHEMA).parquet(fsio.join(index_dir, "terms")).cache()
        return cls(
            spark=spark,
            index_dir=index_dir,
            terms=terms,
            stats=CorpusStats(
                n_docs=s["n_docs"], avgdl=s["avgdl"], total_tokens=s["total_tokens"]
            ),
        )

    def segments_df(self, terms: list[str] | None = None, buckets: list[int] | None = None) -> DataFrame:
        df = self.spark.read.schema(SEG_READ_SCHEMA).parquet(
            fsio.join(self.index_dir, "segments")
        )
        if buckets is not None:
            df = df.filter(F.col("term_bucket").isin(buckets))  # partition pruning
        if terms is not None:
            df = df.filter(F.col("term").isin(terms))  # row-group pruning
        return df

    def deletes_df(self) -> DataFrame | None:
        """Delete mask: (doc_id, del_gen) — doc's postings in generations
        < del_gen are dead (Tantivy/Lucene delete-bitset analog)."""
        p = fsio.join(self.index_dir, "deletes")
        if not fsio.exists(p):
            return None
        return self.spark.read.parquet(p).groupBy("doc_id").agg(
            F.max("del_gen").alias("del_gen")
        )

    def max_gen(self) -> int:
        seg_root = fsio.join(self.index_dir, "segments")
        gens = [
            int(d.split("=")[1])
            for d in fsio.listdir(seg_root)
            if d.startswith("gen=")
        ]
        return max(gens) if gens else 0

    def at_generation(self, as_of: int) -> "SegmentIndex":
        """Point-in-time reader (Lucene IndexReader on an old commit /
        ES point-in-time): search the index EXACTLY as it stood at
        generation ``as_of`` — later upserts, deletes, and their stats
        are invisible. For a training-data pipeline this is the
        reproducibility primitive: re-run any query against the corpus
        snapshot a dataset was built from.

        Mechanics: segments read with ``gen <= as_of`` (gen is a
        partition column → newer generations are pruned at the parquet
        DIRECTORY level, zero I/O); delete masks filter to
        ``del_gen <= as_of``; corpus stats come from the persisted
        per-generation history in stats.json; the term dictionary is
        re-derived from block METADATA columns of the pinned generations
        (the same `_dict_agg` the live merge uses — column pruning skips
        the binary posting streams, so the re-derive reads a few small
        columns, not the index). df/cf keep maxDoc semantics, exactly as
        the live dictionary does between compacts. compact() collapses
        history (Lucene merges drop old commit points)."""
        s = json.loads(fsio.read_text(fsio.join(self.index_dir, "stats.json")))
        hist = s.get("stats_history")
        if not hist:
            raise ValueError(
                "index has no stats_history (built before point-in-time "
                "support) — rebuild, or compact() once to re-anchor"
            )
        past = [h for h in hist if int(h["gen"]) <= as_of]
        if not past:
            raise ValueError(f"no generation <= {as_of} in stats_history")
        h = max(past, key=lambda e: int(e["gen"]))
        terms = _dict_agg(
            self.spark.read.schema(SEG_READ_SCHEMA)
            .parquet(fsio.join(self.index_dir, "segments"))
            .filter(F.col("gen") <= as_of)
        ).cache()
        st = CorpusStats(
            n_docs=int(h["n_docs"]),
            avgdl=(h["total_tokens"] / h["n_docs"]) if h["n_docs"] else 0.0,
            total_tokens=int(h["total_tokens"]),
        )
        return _PinnedSegmentIndex(
            spark=self.spark, index_dir=self.index_dir, terms=terms,
            stats=st, as_of=int(as_of),
        )


@dataclass
class _PinnedSegmentIndex(SegmentIndex):
    """A SegmentIndex frozen at a generation (see at_generation): every
    read path filters on the gen partition column, so search code runs
    unmodified against the snapshot."""

    as_of: int = 0

    def segments_df(self, terms: list[str] | None = None, buckets: list[int] | None = None) -> DataFrame:
        return super().segments_df(terms, buckets).filter(F.col("gen") <= self.as_of)

    def deletes_df(self) -> DataFrame | None:
        p = fsio.join(self.index_dir, "deletes")
        if not fsio.exists(p):
            return None
        d = self.spark.read.parquet(p).filter(F.col("del_gen") <= self.as_of)
        return d.groupBy("doc_id").agg(F.max("del_gen").alias("del_gen"))

    def max_gen(self) -> int:
        return self.as_of

    def at_generation(self, as_of: int) -> "SegmentIndex":
        if as_of > self.as_of:
            raise ValueError(f"cannot unpin forward: {as_of} > {self.as_of}")
        return SegmentIndex.at_generation(self, as_of)


def build_segments(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = DEFAULT_MODE,
    n_buckets: int = 32,
    hot_df_threshold: int = 250_000,
    build_id: str | None = None,
    resume: bool = True,
    checkpoint_postings: bool = True,
    sketch_fraction: float = 0.05,
) -> SegmentIndex:
    """``checkpoint_postings=True`` (default) materializes stage-1
    postings to parquet — an extra resume point, at the cost of a full
    write+read of the posting stream between stages. ``False`` fuses
    tokenize→shuffle→encode into ONE job (the Tantivy/Lucene
    straight-through indexer shape: commits happen at segment
    granularity, tokenization is never persisted): hot-term salting then
    comes from a ``sketch_fraction`` sampled df-sketch so the corpus is
    tokenized exactly once. Resume granularity in fused mode is the
    segments stage itself."""
    spark = docs.sparkSession
    build_id = build_id or uuid.uuid4().hex[:12]
    fsio.makedirs(index_dir)
    raw_path = fsio.join(index_dir, "postings_raw")
    seg_path = fsio.join(index_dir, "segments")
    terms_path = fsio.join(index_dir, "terms")

    manifest_rows: list[tuple] = []

    def _widened() -> DataFrame:
        # Small inputs bin-pack into fewer read splits than cores; widen so
        # tokenization saturates the executors. (At real scale the source
        # has >> defaultParallelism splits and this is a no-op.)
        target = spark.sparkContext.defaultParallelism
        return docs.repartition(target) if docs.rdd.getNumPartitions() < target else docs

    if checkpoint_postings:
        # ---- stage 1: postings (tokenize + per-doc aggregate, no shuffle) ----
        if not (resume and _stage_done(index_dir, "postings_raw")):
            t0 = time.time()
            src = _widened()
            postings = build_postings(
                src, id_col=id_col, text_col=text_col, mode=mode, encode_positions=True
            )
            postings = postings.withColumn(
                "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
            )
            postings.write.mode("overwrite").parquet(raw_path)
            wall = time.time() - t0
            _write_marker(index_dir, "postings_raw", {"wall_sec": wall, "build_id": build_id})
            manifest_rows.append(
                (build_id, "postings_raw", "all", "complete", 0, 0, 0, wall, time.time())
            )

        raw = spark.read.schema(RAW_READ_SCHEMA).parquet(raw_path)
        hot = None
    else:
        src = _widened()
        raw = build_postings(
            src, id_col=id_col, text_col=text_col, mode=mode, encode_positions=True
        ).withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
        hot = sketch_hot_terms(
            src, id_col, text_col, mode, hot_df_threshold, fraction=sketch_fraction
        )

    # ---- stage 2: salted repartition-by-term → encoded segment blocks ----
    if not (resume and _stage_done(index_dir, "segments")):
        t0 = time.time()
        encode_postings_df(raw, seg_path, hot_df_threshold, gen=0, append=False, hot=hot)
        wall = time.time() - t0
        _write_marker(
            index_dir,
            "segments",
            {"wall_sec": wall, "build_id": build_id, "fused": not checkpoint_postings},
        )
        manifest_rows.append(
            (build_id, "segments", "all", "complete", 0, 0, 0, wall, time.time())
        )

    # ---- stage 3: distributed merge → final term dictionary; the tiny
    # dictionary then yields per-bucket lineage + build metrics without a
    # second scan of the segment metadata ----
    if not (resume and _stage_done(index_dir, "terms")):
        t0 = time.time()
        merge_dictionary(spark, seg_path, terms_path)
        lineage = (
            spark.read.parquet(terms_path)
            .groupBy("term_bucket")
            .agg(
                F.sum("df").alias("n_postings"),
                F.sum("n_blocks").alias("n_blocks"),
                F.sum("bytes_encoded").alias("bytes_encoded"),
                F.sum("cf").alias("sum_tf"),
            )
            .collect()
        )
        wall = time.time() - t0
        manifest_rows += [
            (
                build_id,
                "segments",
                f"term_bucket={r['term_bucket']}",
                "complete",
                r["n_postings"],
                r["n_blocks"],
                r["bytes_encoded"],
                0.0,
                time.time(),
            )
            for r in lineage
        ]
        term_metrics = {
            "wall_sec": wall,
            "n_postings": int(sum(r["n_postings"] for r in lineage)),
            "n_blocks": int(sum(r["n_blocks"] for r in lineage)),
            "bytes_encoded": int(sum(r["bytes_encoded"] for r in lineage)),
            "total_tokens": int(sum(r["sum_tf"] for r in lineage)),
            "build_id": build_id,
        }
        _write_marker(index_dir, "terms", term_metrics)
        manifest_rows.append(
            (build_id, "terms", "all", "complete", 0, 0, 0, wall, time.time())
        )

    # ---- stage 4: corpus stats + build metrics (all from stage markers) ----
    stats_path = fsio.join(index_dir, "stats.json")
    if not (resume and _stage_done(index_dir, "stats")):
        n_docs = docs.count()  # parquet sources: metadata-only count
        seg_m = _read_marker(index_dir, "segments") or {}
        term_m = _read_marker(index_dir, "terms") or {}
        raw_m = _read_marker(index_dir, "postings_raw") or {}
        total = int(term_m.get("total_tokens", 0))
        build_wall = float(raw_m.get("wall_sec", 0.0)) + float(seg_m.get("wall_sec", 0.0))
        n_post = int(term_m.get("n_postings", 0))
        payload = {
            "format": SEGMENT_FORMAT,
            "n_docs": int(n_docs),
            "total_tokens": total,
            "avgdl": (total / n_docs) if n_docs else 0.0,
            "n_buckets": int(n_buckets),
            "build_id": build_id,
            "n_postings": n_post,
            "bytes_encoded": int(term_m.get("bytes_encoded", 0)),
            "build_wall_sec": build_wall,
            "postings_per_sec": (n_post / build_wall) if build_wall > 0 else 0.0,
            # generation 0's cumulative stats — the anchor row of the
            # point-in-time history that upserts append to
            "stats_history": [
                {"gen": 0, "n_docs": int(n_docs), "total_tokens": total}
            ],
        }
        fsio.write_text_atomic(stats_path, json.dumps(payload, indent=2))
        _write_marker(index_dir, "stats", {"build_id": build_id})
        manifest_rows.append(
            (build_id, "stats", "all", "complete", 0, 0, 0, 0.0, time.time())
        )

    # one manifest append per build: the durable lineage record
    if manifest_rows:
        _append_manifest(spark, index_dir, manifest_rows)

    return SegmentIndex.load(spark, index_dir)


# --------------------------------------------------------------- updates
#
# Generational writes, the Tantivy/Lucene model (D1/D2/B7): an upsert
# appends a new segment generation plus delete-mask rows for the replaced
# ids; queries read all generations and drop masked postings; stats and
# df keep "maxDoc" semantics (deleted docs counted) until compact() — the
# exact behaviour of the reference's engine between commits and merges.


def _write_stats_json(
    spark: SparkSession,
    index_dir: str,
    n_docs: int,
    total_tokens: int,
    extra: dict | None = None,
    gen: int | None = None,
    reset_history: bool = False,
) -> None:
    stats_path = fsio.join(index_dir, "stats.json")
    payload = json.loads(fsio.read_text(stats_path))
    payload.update(
        {
            "n_docs": int(n_docs),
            "total_tokens": int(total_tokens),
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        }
    )
    payload.update(extra or {})
    if gen is not None:
        # cumulative corpus stats AS OF this generation — what
        # at_generation() needs to score a point-in-time reader with the
        # idf/avgdl the live index had at that commit
        ent = {"gen": int(gen), "n_docs": int(n_docs), "total_tokens": int(total_tokens)}
        hist = [] if reset_history else list(payload.get("stats_history", []))
        hist = [h for h in hist if int(h["gen"]) != int(gen)] + [ent]
        payload["stats_history"] = sorted(hist, key=lambda h: int(h["gen"]))
    fsio.write_text_atomic(stats_path, json.dumps(payload, indent=2))


def upsert_segments(
    si: SegmentIndex,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = DEFAULT_MODE,
    hot_df_threshold: int = 250_000,
) -> SegmentIndex:
    """Upsert a batch: mask old postings of the batch's ids, append a new
    segment generation, re-merge the dictionary (D1)."""
    spark = si.spark
    new_gen = si.max_gen() + 1
    ids = batch.select(F.col(id_col).cast("long").alias("doc_id")).distinct()
    ids.withColumn("del_gen", F.lit(new_gen)).write.mode("append").parquet(
        fsio.join(si.index_dir, "deletes")
    )
    # the token sum, the exact hot-term df and the encode all read the
    # batch's postings: tokenize once and keep them for this call
    raw = (
        build_postings(batch, id_col=id_col, text_col=text_col, mode=mode, encode_positions=True)
        .withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(_n_buckets(si))).cast("int")
        )
        .persist()
    )
    seg_path = fsio.join(si.index_dir, "segments")
    try:
        new_tokens = raw.agg(F.sum("tf")).collect()[0][0] or 0
        encode_postings_df(raw, seg_path, hot_df_threshold, gen=new_gen, append=True)
    finally:
        raw.unpersist()
    merge_dictionary_incremental(spark, seg_path, fsio.join(si.index_dir, "terms"), new_gen)
    n_batch = batch.count()
    _write_stats_json(
        spark,
        si.index_dir,
        si.stats.n_docs + n_batch,  # maxDoc semantics until compact()
        si.stats.total_tokens + int(new_tokens),
        extra={"last_gen": new_gen},
        gen=new_gen,
    )
    _append_manifest(
        spark,
        si.index_dir,
        [("upsert", "generation", f"gen={new_gen}", "complete", int(new_tokens), 0, 0, 0.0, time.time())],
    )
    return SegmentIndex.load(spark, si.index_dir)


def delete_doc_ids(si: SegmentIndex, ids: DataFrame, id_col: str = "doc_id") -> SegmentIndex:
    """Mask ids everywhere (D2). Stats keep maxDoc semantics; derived
    counts refresh at compact() — mirroring the reference's staleness
    warning (/root/reference/src/db/search.rs:444-455 analog)."""
    new_gen = si.max_gen() + 1
    ids.select(F.col(id_col).cast("long").alias("doc_id")).distinct().withColumn(
        "del_gen", F.lit(new_gen)
    ).write.mode("append").parquet(fsio.join(si.index_dir, "deletes"))
    return SegmentIndex.load(si.spark, si.index_dir)


def _n_buckets(si: SegmentIndex) -> int:
    """The bucket count is a BUILD PARAMETER persisted in stats.json —
    upserts must hash terms with the same modulus as the original build or
    new generations land in buckets the dictionary doesn't point at.
    (Counting existing gen=0 dirs is wrong: small corpora leave some of
    the n_buckets partitions empty.)"""
    n = json.loads(fsio.read_text(fsio.join(si.index_dir, "stats.json"))).get("n_buckets")
    if n:
        return int(n)
    # legacy index without the field: largest bucket id ever written + 1
    seg_root = fsio.join(si.index_dir, "segments")
    ids = [
        int(d.split("=")[1])
        for gen in fsio.listdir(seg_root)
        if gen.startswith("gen=")
        for d in fsio.listdir(fsio.join(seg_root, gen))
        if d.startswith("term_bucket=")
    ]
    return max(ids) + 1 if ids else 1


def compact(si: SegmentIndex, hot_df_threshold: int = 250_000) -> SegmentIndex:
    """Background-merge analog (B7): decode all LIVE postings, rewrite as a
    single gen=0, clear deletes, rebuild dictionary + exact stats."""
    from .segment_search import decode_all_postings

    spark = si.spark
    live = decode_all_postings(si, with_positions=True).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(_n_buckets(si))).cast("int")
    )
    raw_path = fsio.join(si.index_dir, "postings_raw")
    live.write.mode("overwrite").parquet(raw_path)
    raw = spark.read.parquet(raw_path)  # live postings: unencoded positions schema
    seg_path = fsio.join(si.index_dir, "segments")
    fsio.rmtree(seg_path)
    encode_postings_df(raw, seg_path, hot_df_threshold, gen=0, append=False)
    merge_dictionary(spark, seg_path, fsio.join(si.index_dir, "terms"))
    fsio.rmtree(fsio.join(si.index_dir, "deletes"))
    n_docs = raw.select("doc_id").distinct().count()
    total = raw.agg(F.sum("tf")).collect()[0][0] or 0
    # compaction rewrites history: generations collapse into the new
    # gen=0, so point-in-time readers older than the compact are gone
    # (exactly Lucene's background merge dropping old commit points)
    _write_stats_json(
        spark, si.index_dir, n_docs, int(total), extra={"last_gen": 0},
        gen=0, reset_history=True,
    )
    _append_manifest(
        spark,
        si.index_dir,
        [("compact", "compact", "all", "complete", int(total), 0, 0, 0.0, time.time())],
    )
    return SegmentIndex.load(spark, si.index_dir)


def compact_range(si: SegmentIndex, lo_gen: int, hi_gen: int) -> SegmentIndex:
    """Tiered merge (Lucene TieredMergePolicy analog): merge ONLY the
    generations in [lo_gen, hi_gen] into a single segment generation,
    leaving the others untouched. At 100 TB a full compact() rewrites
    the entire index; real merge policies rewrite a handful of small
    recent generations at a time — cost proportional to the merged
    generations, never the index.

    Semantics (pinned in tests/test_time_travel.py):
    - live search results are IDENTICAL before and after the merge;
    - dead postings of the merged range are physically dropped (the
      decode applies the delete mask); delete rows are all KEPT — a
      del_gen inside the range still masks generations BELOW the range;
    - merged postings take gen = hi_gen; point-in-time pins BELOW the
      range are byte-stable, the pin at hi_gen survives as a consistent
      reader whose derived df reflects the physical removal (Lucene
      reopen-after-merge), and pins strictly inside the range are gone
      (their stats_history entries are dropped), exactly as Lucene
      merges drop intermediate commit points;
    - stats AND the term dictionary keep maxDoc semantics (df/cf
      unchanged — that is what makes live results byte-identical;
      n_blocks/bytes_encoded go stale until a full compact(), which
      recomputes exact live counts).
    """
    from . import BM25_B, BM25_K1
    from .segment_search import _decode_seg_df

    if not (0 <= lo_gen <= hi_gen <= si.max_gen()):
        raise ValueError(f"bad merge range [{lo_gen}, {hi_gen}] (max_gen={si.max_gen()})")
    spark = si.spark
    seg_path = fsio.join(si.index_dir, "segments")
    live = _decode_seg_df(
        si,
        si.segments_df().filter(F.col("gen").between(lo_gen, hi_gen)),
        True, 0.0, None, None, BM25_K1, BM25_B,
    ).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(_n_buckets(si))).cast("int")
    )
    tmp = fsio.join(si.index_dir, "postings_raw_merge")
    live.write.mode("overwrite").parquet(tmp)
    raw = spark.read.parquet(tmp)
    n_tokens = raw.agg(F.sum("tf")).collect()[0][0] or 0
    for g in range(lo_gen, hi_gen + 1):
        d = fsio.join(seg_path, f"gen={g}")
        if fsio.exists(d):
            fsio.rmtree(d)
    encode_postings_df(raw, seg_path, 250_000, gen=hi_gen, append=True)
    fsio.rmtree(tmp)
    # the DICTIONARY is deliberately NOT re-merged: df/cf keep their
    # maxDoc values (same rule as stats), so live search results are
    # byte-identical across the merge; n_blocks/bytes_encoded go stale
    # until a full compact() (operational metadata only). The stored
    # per-term bounds stay COVERING (merged blocks' max_tf <= old max,
    # min_doc_len >= old min), so WAND pruning stays rank-safe.
    spark.catalog.refreshByPath(seg_path)
    # drop point-in-time anchors STRICTLY INSIDE the merged range (their
    # generation boundaries no longer exist). A pin at hi_gen survives as
    # a consistent reader but reflects the merge's physical removal of
    # dead postings in its derived df — Lucene-reopen-after-merge
    # semantics; pins below lo_gen are byte-stable.
    stats_path = fsio.join(si.index_dir, "stats.json")
    payload = json.loads(fsio.read_text(stats_path))
    hist = payload.get("stats_history")
    if hist:
        payload["stats_history"] = [
            h for h in hist if not (lo_gen <= int(h["gen"]) < hi_gen)
        ]
        fsio.write_text_atomic(stats_path, json.dumps(payload, indent=2))
    _append_manifest(
        spark,
        si.index_dir,
        [(
            "merge", "compact_range", f"gen={lo_gen}-{hi_gen}", "complete",
            int(n_tokens), 0, 0, 0.0, time.time(),
        )],
    )
    return SegmentIndex.load(spark, si.index_dir)


def index_stats(si: SegmentIndex) -> DataFrame:
    """Operational report (ES _stats / Lucene segment-info analog): one
    row per generation — terms, blocks, postings, encoded bytes, plus
    masked-doc and pin-anchor visibility. Reads ONLY block METADATA
    columns (column pruning skips the posting payloads) and the tiny
    deletes table; cost is metadata-scale at any index size.

    Columns: gen, n_terms, n_blocks, n_postings, bytes_encoded,
    n_deleted_docs (docs whose del_gen == gen, i.e. deletes RECORDED at
    this generation), pinned (whether a stats_history anchor exists, so
    at_generation(gen) is available)."""
    spark = si.spark
    seg = spark.read.schema(SEG_READ_SCHEMA).parquet(
        fsio.join(si.index_dir, "segments")
    )
    per_gen = seg.groupBy("gen").agg(
        F.count_distinct("term").alias("n_terms"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("n_docs").cast("long").alias("n_postings"),
        F.sum("bytes_enc").cast("long").alias("bytes_encoded"),
    )
    dpath = fsio.join(si.index_dir, "deletes")
    if fsio.exists(dpath):
        dels = (
            spark.read.parquet(dpath)
            .groupBy(F.col("del_gen").alias("gen"))
            .agg(F.count_distinct("doc_id").alias("n_deleted_docs"))
        )
        per_gen = per_gen.join(dels, "gen", "full").fillna(
            0, subset=["n_terms", "n_blocks", "n_postings", "bytes_encoded", "n_deleted_docs"]
        )
    else:
        per_gen = per_gen.withColumn("n_deleted_docs", F.lit(0).cast("long"))
    hist = json.loads(fsio.read_text(fsio.join(si.index_dir, "stats.json"))).get(
        "stats_history", []
    )
    anchors = {int(h["gen"]) for h in hist}
    pin = F.col("gen").isin(sorted(anchors)) if anchors else F.lit(False)
    return per_gen.withColumn("pinned", pin).orderBy("gen")
