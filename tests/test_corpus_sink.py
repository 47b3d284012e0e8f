"""Corpus sink tests: partition layout, file sizing, and roundtrip; and
the pipeline's sink, whose shuffle sort cuts the files: it writes the
file count the sink's sizing gives per split, in training order."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.test_pipeline_audit import CURATE, CURATE_AUDIT
from xdump_spark.pipeline import prepare_training_corpus
from xdump_spark.sources.corpus_sink import write_corpus

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def test_partitioned_write_roundtrip(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",))
    # hive layout: one directory per language
    dirs = {os.path.basename(p) for p in glob.glob(f"{out}/lang=*")}
    assert dirs == {f"lang={r.lang}" for r in docs.select("lang").distinct().collect()}
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # full content roundtrip (lang comes back as a partition column)
    want = {tuple(r) for r in docs.select("doc_id", "text", "lang").collect()}
    got = {tuple(r) for r in back.select("doc_id", "text", "lang").collect()}
    assert got == want


def test_unpartitioned_write_controls_file_count(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "flat")
    # tiny input, default 128MB target → ONE data file, not one per core
    write_corpus(docs, out)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1
    assert spark.read.parquet(out).count() == docs.count()


def test_small_target_splits_files(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "split")
    # force a sub-file-size target: file budget must exceed 1
    write_corpus(docs, out, target_file_mb=1)
    n_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{SF_DIR}/documents.parquet"))
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) >= 1
    if n_bytes > 1024 * 1024:
        assert len(files) > 1


def test_mode_is_honored(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(5)
    out = str(tmp_path / "m")
    write_corpus(docs, out)
    with pytest.raises(Exception):
        write_corpus(docs, out)  # errorifexists default
    write_corpus(docs, out, mode="overwrite")
    assert spark.read.parquet(out).count() == 5


def _part_files(path):
    return sorted(glob.glob(f"{path}/part-*.parquet"))


def _ids_in_file_order(path):
    return [
        i for f in _part_files(path)
        for i in pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
    ]


@pytest.fixture(scope="module")
def sinks(spark, tmp_path_factory):
    """The curate chain's sink over two inputs, with the file count per
    split that the sink's sizing gives each: the file-backed fixture
    (input bytes under the 128 MB target: 1) and the fixture as an
    in-memory frame (no input files: ``defaultParallelism``). The audit
    holds when a split's sort samples its range bounds (two or more
    files)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    inputs = {
        "file": (docs, 1),
        "memory": (spark.createDataFrame(docs.collect(), docs.schema),
                   spark.sparkContext.defaultParallelism),
    }
    out = {}
    for kind, (frame, want) in inputs.items():
        path = str(tmp_path_factory.mktemp(f"sink_{kind}"))
        res = prepare_training_corpus(frame, out_dir=path, **CURATE)
        assert res.audit == CURATE_AUDIT, kind
        out[kind] = (path, want)
    return out


@pytest.mark.parametrize("kind", ["file", "memory"])
def test_pipeline_sink_file_count(sinks, kind):
    """Each split holds the sizing's file count. Sized after the
    chain's local checkpoint, which has no input files, the file-backed
    input would fall back to ``defaultParallelism`` files per split."""
    path, want = sinks[kind]
    for split in CURATE["splits"]:
        assert len(_part_files(os.path.join(path, split))) == want, split


def test_pipeline_sink_keeps_training_order(spark, sinks):
    """A split spanning several files, read file by file in name order,
    is in ``deterministic_shuffle``'s order (seed 0): the sort's range
    exchange cuts the files, and nothing deals the rows again."""
    path, _ = sinks["memory"]
    for split in CURATE["splits"]:
        d = os.path.join(path, split)
        assert len(_part_files(d)) >= 2, split
        order = spark.read.parquet(d).orderBy(
            F.xxhash64(F.lit(0), F.col("doc_id")), "doc_id"
        )
        assert _ids_in_file_order(d) == [r.doc_id for r in order.collect()], split
