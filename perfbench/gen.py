"""Seeded input generators. The same seed always gives the same inputs.

Tables and changelogs are built in Spark from ``spark.range`` with every
random draw a hash of (seed, salt, row id), so the rows do not depend on
partitioning. Increment files come from ONE job: ``spark.range`` with
one partition per file splits the id (= seq offset) range into exact
contiguous runs, so each written file is one increment, and files are
then stamped with strictly increasing mtimes in seq order, because the
file stream source reads the oldest mtime first. Documents and
embeddings are small and are drawn with NumPy."""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

EPOCH_S = 694_224_000  # 1992-01-01, the start of the generated dates
DUMP_DAYS = 12  # distinct dates, hence dump partitions
CHANGE_TS_S = 1_000_000_000  # cdc_ts of increment events is CHANGE_TS_S + seq
DELETE_SHARE = 0.10
NEW_KEY_SHARE = 0.05  # key space widened by this share; keys beyond it are new


def uniform(seed: int, salt: int, col: Column) -> Column:
    """A [0, 1) draw fixed by (seed, salt, col)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), col), F.lit(1 << 31)) / float(1 << 31)


def _pick(u: Column, options: tuple[str, ...]) -> Column:
    idx = (F.floor(u * len(options)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(o) for o in options]), idx)


def _day_ts(u: Column) -> Column:
    return F.timestamp_seconds(F.lit(EPOCH_S) + F.floor(u * DUMP_DAYS * 86400))


def lineitem_row(k: Column, u) -> list[Column]:
    """Lineitem columns of key index k; ``u(salt)`` draws the payload."""
    return [
        (F.floor(k / 4) + 1).cast("long").alias("l_orderkey"),
        (k % 4 + 1).cast("int").alias("l_linenumber"),
        (F.floor(u(1) * 2000) + 1).cast("long").alias("l_partkey"),
        (F.floor(u(2) * 100) + 1).cast("long").alias("l_suppkey"),
        (F.floor(u(3) * 50) + 1).cast("double").alias("l_quantity"),
        F.round(u(4) * 100_000, 2).alias("l_extendedprice"),
        F.round(u(5) * 0.1, 2).alias("l_discount"),
        F.round(u(6) * 0.08, 2).alias("l_tax"),
        _pick(u(7), ("A", "N", "R")).alias("l_returnflag"),
        _pick(u(8), ("F", "O")).alias("l_linestatus"),
        _day_ts(u(9)).alias("l_shipdate"),
    ]


def base_table(spark: SparkSession, n_keys: int, seed: int) -> DataFrame:
    """n_keys lineitem rows with unique primary keys."""
    k = F.col("id")
    return spark.range(n_keys).select(*lineitem_row(k, lambda s: uniform(seed, s, k)))


def increments(
    spark: SparkSession,
    schema: StructType,
    n_keys: int,
    first_seq: int,
    n_files: int,
    per_file: int,
    seed: int,
) -> DataFrame:
    """n_files × per_file lineitem changelog events after ``first_seq``,
    in the snapshot's ``schema``: hot keys (cubic skew over the key space), ~10%
    deletes, and inserts for keys beyond the base table. Partition j of
    the result holds exactly increment j."""
    i = F.col("id")
    u = lambda s: uniform(seed, 100 + s, i)  # noqa: E731
    ku = u(0)
    k = F.floor(ku * ku * ku * (n_keys * (1 + NEW_KEY_SHARE))).cast("long")
    action = (
        F.when(u(50) < DELETE_SHARE, F.lit("delete"))
        .when(k >= n_keys, F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    seq = F.lit(first_seq) + i
    rows = spark.range(0, n_files * per_file, 1, n_files).select(
        seq.alias("seq"),
        F.lit("tpch").alias("db"),
        F.lit("lineitem").alias("tbl"),
        action.alias("cdc_action"),
        F.timestamp_seconds(F.lit(CHANGE_TS_S) + seq).alias("cdc_ts"),
        *lineitem_row(k, u),
    )
    return rows.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


def part_files(out_dir: str, ext: str = "parquet") -> list[str]:
    """Data files of one Spark write, in partition order."""
    return sorted(glob.glob(os.path.join(out_dir, f"part-*.{ext}")))


def stage_in_order(files: list[str], dest: str) -> list[str]:
    """Move ``files`` into ``dest`` as 00000.parquet, 00001.parquet, ...
    with strictly increasing mtimes in list order."""
    os.makedirs(dest, exist_ok=True)
    t0 = time.time() - len(files) - 60
    staged = []
    for j, src in enumerate(files):
        dst = os.path.join(dest, f"{j:05d}.parquet")
        os.rename(src, dst)
        os.utime(dst, (t0 + j, t0 + j))
        staged.append(dst)
    return staged


def debezium_json(changelog: DataFrame, row_cols: list[str]) -> DataFrame:
    """Changelog rows as Debezium JSON envelopes (one ``value`` string per
    event): after-image for c/u, before-image for d, source.pos = seq."""
    act = F.col("cdc_action")
    op = F.when(act == "insert", "c").when(act == "update", "u").otherwise("d")
    row = F.struct(*[F.col(c) for c in row_cols])
    payload = F.struct(
        F.when(op == "d", row).alias("before"),
        F.when(op != "d", row).alias("after"),
        op.alias("op"),
        F.unix_millis(F.col("cdc_ts")).alias("ts_ms"),
        F.struct(
            F.col("db"), F.col("tbl").alias("table"), F.col("seq").alias("pos")
        ).alias("source"),
    )
    return changelog.select(F.to_json(F.struct(payload.alias("payload"))).alias("value"))


# The corpus copies the shape measured on the sf0.1 documents and
# embeddings fixture (5,000 documents, 2,000 vectors):
# * 30 words drawn uniformly (each 1/30 of the words, within 2%);
# * 10-100 words a document, uniformly (quartiles 32/54/76);
# * 255 near-copies (5.1%): another document with the word "dup"
#   appended, so every near-duplicate pair has Jaccard 0.8-1.0 (median
#   0.98), and two copies of one document are exact duplicates;
# * lang en 41%, de/es/fr/zh 14-15% each; source src<doc_id mod 20>;
# * unit-length vectors of dimension 64 in no clusters, with a label
#   0-9 drawn uniformly.
# On it the word-3-gram relation has 27,213 distinct shingles, average
# df 9.6, max df 25 and Σ df² = 2,791,946, so the n-gram dedup takes its
# naive route; 256 pairs reach Jaccard 0.2.
VOCAB = tuple(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
DUP_WORD = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20


def documents(n_docs: int, dup_share: float, seed: int) -> pa.Table:
    """The documents table: originals of 10-100 uniform words, and a
    ``dup_share`` of near-copies, each an original with ``DUP_WORD``
    appended. Copies sit at seeded positions among the ids."""
    rng = np.random.default_rng(seed)
    n_dup = round(n_docs * dup_share)
    is_copy = np.zeros(n_docs, bool)
    is_copy[rng.choice(np.arange(1, n_docs), n_dup, replace=False)] = True
    texts = []
    for i in range(n_docs):
        if is_copy[i]:
            texts.append(f"{texts[int(rng.integers(0, i))]} {DUP_WORD}")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n_vecs: int, dim: int, seed: int) -> pa.Table:
    """Unit-length float32 vectors in uniform random directions."""
    rng = np.random.default_rng(seed + 1)
    vecs = rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n_vecs + 1) * dim, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })


def write_llm_tables(sf_dir: str, n_docs: int, dup_share: float, n_vecs: int, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(n_docs, dup_share, seed), f"{sf_dir}/documents.parquet")
    pq.write_table(embeddings(n_vecs, 64, seed), f"{sf_dir}/embeddings.parquet")
