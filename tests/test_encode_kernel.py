"""The stage-2 block encoder (segments._encode_partition) against the
per-(term, salt) encoder it replaced, kept here as the reference: every
column of every segment row must be identical, however the sorted
partition is cut into Arrow batches and kernel calls."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fugu_spark import codecs
from fugu_spark.codecs import BLOCK_SIZE
from fugu_spark.segments import (
    ENCODE_CHUNK,
    RAW_READ_SCHEMA,
    SEG_READ_SCHEMA,
    SEGMENT_SCHEMA,
    _encode_partition,
    _salted,
    build_segments,
    compact,
    upsert_segments,
)

_TAG_VARINT = bytes([0])  # codecs.CODEC_VARINT
SEG_COLS = [f.name for f in SEGMENT_SCHEMA.fields]


def _encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference: the former applyInPandas kernel, one (term, salt)
    posting sub-list → delta-encoded 128-doc block rows."""
    from fugu_spark.codecs import encode_doc_streams, varint_encode_lens

    pdf = pdf.sort_values("doc_id", kind="mergesort")
    term = pdf["term"].iloc[0]
    salt = int(pdf["salt"].iloc[0])
    bucket = int(pdf["term_bucket"].iloc[0])
    n = len(pdf)
    doc_i64 = pdf["doc_id"].to_numpy(dtype=np.int64)
    doc_u = doc_i64.view(np.uint64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64).astype(np.uint64)
    dls = pdf["doc_len"].to_numpy(dtype=np.int64).astype(np.uint64)

    block_starts = np.arange(0, n, BLOCK_SIZE, dtype=np.int64)
    block_ends = np.minimum(block_starts + BLOCK_SIZE, n)

    deltas = np.empty_like(doc_u)
    deltas[0] = doc_u[0]
    np.subtract(doc_u[1:], doc_u[:-1], out=deltas[1:])
    deltas[block_starts] = doc_u[block_starts]  # per-block absolute base
    doc_b, doc_nb = varint_encode_lens(deltas)
    tf_b, tf_nb = varint_encode_lens(tfs)
    dl_b, dl_nb = varint_encode_lens(dls)

    if "pos_enc" in pdf.columns:
        arr = pa.array(pdf["pos_enc"].to_numpy(), type=pa.binary())
        off_buf, data_buf = arr.buffers()[1], arr.buffers()[2]
        pos_doc_off = np.frombuffer(off_buf, dtype=np.int32)[: n + 1].astype(np.int64)
        pos_b = data_buf.to_pybytes() if data_buf is not None else b""
    else:
        pos_arrays = pdf["positions"].to_numpy()
        flat = (
            np.concatenate([np.asarray(p, dtype=np.uint64) for p in pos_arrays])
            if n
            else np.array([], dtype=np.uint64)
        )
        tok_cum = np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64)
        if len(flat):
            pdel = flat.copy()
            pdel[1:] = flat[1:] - flat[:-1]
            pdel[tok_cum[:-1]] = flat[tok_cum[:-1]]  # per-doc absolute base
            pos_b, pos_nb = varint_encode_lens(pdel)
        else:
            pos_b, pos_nb = b"", np.zeros(0, dtype=np.int64)
        pos_val_off = np.concatenate([[0], np.cumsum(pos_nb)]).astype(np.int64)
        pos_doc_off = pos_val_off[tok_cum]  # byte offset at each doc boundary
    pc_b, pc_nb = varint_encode_lens(tfs)  # pos counts stream == tf stream

    doc_off = np.concatenate([[0], np.cumsum(doc_nb)]).astype(np.int64)
    tf_off = np.concatenate([[0], np.cumsum(tf_nb)]).astype(np.int64)
    dl_off = np.concatenate([[0], np.cumsum(dl_nb)]).astype(np.int64)
    pc_off = np.concatenate([[0], np.cumsum(pc_nb)]).astype(np.int64)

    doc_streams = encode_doc_streams(deltas, block_starts, block_ends, doc_b, doc_off)

    max_tf = np.maximum.reduceat(tfs, block_starts).astype(np.int64)
    min_dl = np.minimum.reduceat(dls, block_starts).astype(np.int64)
    sum_tf = np.add.reduceat(tfs, block_starts).astype(np.int64)

    rows = [
        (
            term,
            salt,
            k,
            int(e - s),
            int(sum_tf[k]),
            int(doc_i64[s]),
            int(doc_i64[e - 1]),
            int(max_tf[k]),
            int(min_dl[k]),
            doc_streams[k],
            _TAG_VARINT + tf_b[tf_off[s] : tf_off[e]],
            _TAG_VARINT + dl_b[dl_off[s] : dl_off[e]],
            _TAG_VARINT + pc_b[pc_off[s] : pc_off[e]],
            _TAG_VARINT + pos_b[pos_doc_off[s] : pos_doc_off[e]],
            bucket,
        )
        for k, (s, e) in enumerate(zip(block_starts, block_ends))
    ]
    rows = [
        r + (sum(len(r[i]) for i in (9, 10, 11, 12, 13) if r[i] is not None),)
        for r in rows
    ]
    return pd.DataFrame(rows, columns=SEG_COLS)


def _reference(pdf: pd.DataFrame) -> pd.DataFrame:
    groups = [_encode_group(g) for _, g in pdf.groupby(["term", "salt"], sort=False)]
    return pd.concat(groups, ignore_index=True) if groups else pd.DataFrame(columns=SEG_COLS)


def _assert_rows_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    key = ["term", "salt", "block_id"]
    got = got[SEG_COLS].sort_values(key).reset_index(drop=True)
    want = want[SEG_COLS].sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in SEG_COLS:
        assert got[c].tolist() == want[c].tolist(), c


# ------------------------------------------------------------- in process


def _sorted_postings(seed: int, positions: bool) -> pa.RecordBatch:
    """(term, salt)-sorted postings: runs of 1 to > ENCODE_CHUNK docs,
    negative and positive doc ids with gaps past 2^32."""
    rng = np.random.default_rng(seed)
    sizes = [1, 2, 5, 127, 128, 129, 300, ENCODE_CHUNK + 300, 3, 1]
    cols = {k: [] for k in ("term", "salt", "doc_id", "tf", "doc_len", "pos", "term_bucket")}
    for r, size in enumerate(sizes * 2):
        ids = np.sort(rng.choice(1 << 40, size, replace=False).astype(np.int64) * 8191 - (1 << 52))
        for d in ids:
            tf = int(rng.integers(1, 6))
            p = np.sort(rng.choice(5000, tf, replace=False)).astype(np.int64)
            cols["term"].append(f"t{r // 2:03d}")
            cols["salt"].append(r % 2)
            cols["doc_id"].append(int(d))
            cols["tf"].append(tf)
            cols["doc_len"].append(int(rng.integers(tf, 4000)))
            cols["pos"].append(
                p.tolist() if positions else codecs.varint_encode(np.diff(p, prepend=0).astype(np.uint64))
            )
            cols["term_bucket"].append(r // 2 % 4)
    pos_name, pos_type = ("positions", pa.list_(pa.int32())) if positions else ("pos_enc", pa.binary())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cols["term"], pa.string()),
            pa.array(cols["salt"], pa.int32()),
            pa.array(cols["doc_id"], pa.int64()),
            pa.array(cols["tf"], pa.int32()),
            pa.array(cols["doc_len"], pa.int32()),
            pa.array(cols["pos"], pos_type),
            pa.array(cols["term_bucket"], pa.int32()),
        ],
        names=["term", "salt", "doc_id", "tf", "doc_len", pos_name, "term_bucket"],
    )


def _run_kernel(rb: pa.RecordBatch, batch_rows: int) -> pd.DataFrame:
    batches = [rb.slice(i, batch_rows) for i in range(0, rb.num_rows, batch_rows)]
    out = list(_encode_partition(iter(batches)))
    return pa.Table.from_batches(out).to_pandas()


@pytest.mark.parametrize("positions", [False, True], ids=["pos_enc", "positions"])
@pytest.mark.parametrize("batch_rows", [1, 7, 500, 1 << 20])
def test_kernel_matches_reference(positions, batch_rows):
    rb = _sorted_postings(3, positions)
    _assert_rows_equal(_run_kernel(rb, batch_rows), _reference(rb.to_pandas()))


def test_kernel_calls_stay_bounded():
    """A kernel call holds more than ENCODE_CHUNK postings only when it
    is one run."""
    rb = _sorted_postings(5, False)
    for out in _encode_partition(iter([rb])):
        keys = set(zip(out.column("term").to_pylist(), out.column("salt").to_pylist()))
        if sum(out.column("n_docs").to_pylist()) > ENCODE_CHUNK:
            assert len(keys) == 1


def test_kernel_takes_large_binary_positions():
    """Position blobs arrive with int64 offsets as well as int32 ones and
    encode identically."""
    rb = _sorted_postings(11, False)
    i = rb.schema.get_field_index("pos_enc")
    large = rb.set_column(i, "pos_enc", rb.column(i).cast(pa.large_binary()))
    assert large.schema.field("pos_enc").type == pa.large_binary()
    _assert_rows_equal(_run_kernel(large, 97), _run_kernel(rb, 97))


# ------------------------------------------------------------------ Spark

DOCS = [
    (-(2**62) - 5, "alpha beta gamma alpha"),
    (-7, "alpha gamma delta"),
    (9, "alpha beta beta epsilon"),
    (2**61, "beta gamma alpha zeta"),
    (-(2**40), "gamma gamma delta alpha"),
    (123456789, "alpha eta theta beta"),
] + [(i * 7919 - 40_000, f"alpha beta w{i % 13} w{i % 5} alpha") for i in range(200)]


@pytest.fixture
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def _segments(spark, index_dir: str, gen: int | None = None) -> pd.DataFrame:
    seg = spark.read.schema(SEG_READ_SCHEMA).parquet(f"{index_dir}/segments")
    if gen is not None:
        seg = seg.filter(F.col("gen") == gen)
    return seg.toPandas()


def test_build_matches_reference(spark, tmp_path, tiny_batches):
    """Salted terms (hot_df_threshold=2), negative ids and runs straddling
    7-row Arrow batches: the build writes the reference's rows."""
    docs = spark.createDataFrame(DOCS, "doc_id long, content string")
    d = str(tmp_path / "idx")
    build_segments(docs, d, n_buckets=4, hot_df_threshold=2)
    raw = spark.read.schema(RAW_READ_SCHEMA).parquet(f"{d}/postings_raw")
    want = _reference(_salted(raw, 2).toPandas())
    assert want["salt"].max() > 0
    _assert_rows_equal(_segments(spark, d), want)


def test_compact_matches_reference(spark, tmp_path, tiny_batches):
    """compact re-encodes decoded positions lists, not stage-1 blobs."""
    docs = spark.createDataFrame(DOCS, "doc_id long, content string")
    d = str(tmp_path / "idx")
    si = build_segments(docs, d, n_buckets=4)
    batch = spark.createDataFrame([(-7, "alpha omega omega"), (10**12, "beta omega")], "doc_id long, content string")
    si = compact(upsert_segments(si, batch), hot_df_threshold=3)
    raw = spark.read.parquet(f"{d}/postings_raw")
    assert "positions" in raw.columns
    want = _reference(_salted(raw, 3).toPandas())
    assert want["salt"].max() > 0
    _assert_rows_equal(_segments(spark, d), want)


def test_upsert_matches_reference(spark, tmp_path, tiny_batches):
    """An upsert tokenizes its batch once: the new generation holds the
    reference encoding of the batch, stats count its tokens once, and the
    upserted index matches what a fresh build of the live corpus matches."""
    from fugu_spark.postings import build_postings
    from fugu_spark.segment_search import search_segments

    docs = spark.createDataFrame(DOCS, "doc_id long, content string")
    si = build_segments(docs, str(tmp_path / "idx"), n_buckets=4)
    rows = [(-7, "alpha omega omega beta"), (10**12, "beta omega"), (-(10**15), "omega alpha")]
    batch = spark.createDataFrame(rows, "doc_id long, content string")
    si2 = upsert_segments(si, batch, hot_df_threshold=2)

    raw = build_postings(batch, encode_positions=True).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(4)).cast("int")
    )
    want = _reference(_salted(raw, 2).toPandas())
    assert want["salt"].max() > 0
    _assert_rows_equal(_segments(spark, si2.index_dir, gen=1), want)
    assert si2.stats.total_tokens == si.stats.total_tokens + raw.agg(F.sum("tf")).first()[0]

    live = dict(DOCS)
    live.update(dict(rows))
    fresh = build_segments(
        spark.createDataFrame(list(live.items()), "doc_id long, content string"),
        str(tmp_path / "fresh"),
        n_buckets=4,
    )
    for q in ("omega", "alpha AND beta", '"alpha beta"', "gamma NOT alpha"):
        got = {r.doc_id for r in search_segments(si2, q, k=1000).collect()}
        exp = {r.doc_id for r in search_segments(fresh, q, k=1000).collect()}
        assert got == exp, q
