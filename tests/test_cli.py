"""CLI tests (reference model: tests/cli/test_dump.py, test_load.py —
option parsing errors and end-to-end dump/load through the command layer)."""

import argparse
import os

import pytest

from xdump_spark import cli


def test_parse_partial_ok():
    assert cli.parse_partial("employees:SELECT * FROM employees") == (
        "employees",
        "SELECT * FROM employees",
    )


@pytest.mark.parametrize("bad", ["employees", "employees:", ":SELECT 1", "  :  "])
def test_parse_partial_bad_format(bad):
    with pytest.raises(argparse.ArgumentTypeError):
        cli.parse_partial(bad)


def test_parser_requires_command():
    with pytest.raises(SystemExit):
        cli.build_parser().parse_args([])


def test_cli_dump_then_load_roundtrip(spark, employees_catalog, tmp_path):
    # stage the employees fixture as a parquet db with fk config
    from xdump_spark.sources.parquet_db import ParquetDatabase

    src = str(tmp_path / "srcdb")
    for name, df in employees_catalog.tables.items():
        df.write.parquet(os.path.join(src, name))
    ParquetDatabase(spark, src).write_fk_config(employees_catalog.foreign_keys)

    zip_path = str(tmp_path / "dump.zip")
    args = cli.build_parser().parse_args(
        [
            "dump",
            "-i", src,
            "-o", zip_path,
            "-f", "groups",
            "-p", "employees:SELECT * FROM employees WHERE id = 2",
        ]
    )
    assert cli.run(args, spark) == 0
    assert os.path.exists(zip_path)

    dst = str(tmp_path / "dstdb")
    args = cli.build_parser().parse_args(
        ["load", "-i", zip_path, "-o", dst, "--cleanup-method", "recreate"]
    )
    assert cli.run(args, spark) == 0
    # employee 2's manager chain is 2→1; groups full
    emp = spark.read.parquet(os.path.join(dst, "employees"))
    assert {r.id for r in emp.collect()} == {1, 2}
    grp = spark.read.parquet(os.path.join(dst, "groups"))
    assert grp.count() == 2


def test_dump_from_config(spark, employees_catalog, tmp_path):
    """Config-driven dump (the reference's settings-driven Django path)."""
    import json

    from xdump_spark.config import dump_from_config, load_config
    from xdump_spark.sources.parquet_db import ParquetDatabase

    src = str(tmp_path / "cfgdb")
    for name, df in employees_catalog.tables.items():
        df.write.parquet(os.path.join(src, name))
    ParquetDatabase(spark, src).write_fk_config(employees_catalog.foreign_keys)

    cfg = {
        "db": src,
        "output": str(tmp_path / "cfg_dump.zip"),
        "full_tables": ["groups"],
        "partial_tables": {"employees": "SELECT * FROM employees WHERE id = 2"},
    }
    cfg_path = str(tmp_path / "xdump.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    counts = dump_from_config(spark, cfg_path)
    assert counts["employees"] == 2   # 2 + manager 1
    assert counts["groups"] == 2
    assert os.path.exists(cfg["output"])

    with pytest.raises(ValueError, match="missing required"):
        bad = str(tmp_path / "bad.json")
        with open(bad, "w") as f:
            json.dump({"db": src}, f)
        load_config(bad)


class UppercasingBackend:
    """A custom source backend for the pluggable --backend surface: wraps
    ParquetDatabase but upper-cases group names on read, so the dump
    provably went through THIS class."""

    def __init__(self, spark, path):
        from xdump_spark.sources.parquet_db import ParquetDatabase

        self._inner = ParquetDatabase(spark, path)

    def catalog(self):
        from pyspark.sql import functions as F

        cat = self._inner.catalog()
        tables = dict(cat.tables)
        if "groups" in tables:
            tables["groups"] = tables["groups"].withColumn("name", F.upper("name"))
        from xdump_spark.catalog import Catalog

        return Catalog(tables, cat.foreign_keys, primary_keys=cat.primary_keys)

    def truncate(self, tables=None):
        self._inner.truncate(tables)

    def recreate(self):
        self._inner.recreate()

    def load_tables(self, frames, order, mode="overwrite"):
        self._inner.load_tables(frames, order, mode)

    def write_fk_config(self, fks):
        self._inner.write_fk_config(fks)


def test_resolve_backend_errors():
    with pytest.raises(argparse.ArgumentTypeError, match="must look like"):
        cli.resolve_backend("justaname")
    with pytest.raises(argparse.ArgumentTypeError, match="cannot import"):
        cli.resolve_backend("no.such.module:Thing")
    with pytest.raises(argparse.ArgumentTypeError, match="no attribute"):
        cli.resolve_backend("xdump_spark.cli:NoSuchClass")


def test_cli_custom_backend_dotted_path(spark, employees_catalog, tmp_path):
    """--backend pkg.mod:Class resolves and drives the dump (the
    reference's importable-string backends, xdump/cli/utils.py:12-22)."""
    from xdump_spark.sources.parquet_db import ParquetDatabase

    src = str(tmp_path / "bdb")
    for name, df in employees_catalog.tables.items():
        df.write.parquet(os.path.join(src, name))
    ParquetDatabase(spark, src).write_fk_config(employees_catalog.foreign_keys)

    zip_path = str(tmp_path / "b.zip")
    args = cli.build_parser().parse_args(
        [
            "dump",
            "-i", src,
            "-o", zip_path,
            "-f", "groups",
            "--backend", "tests.test_cli:UppercasingBackend",
        ]
    )
    assert cli.run(args, spark) == 0
    from xdump_spark.archive import DumpArchive, parse_csv_bytes

    groups = parse_csv_bytes(DumpArchive(zip_path).read_data()["groups"])
    assert set(groups.column(1).to_pylist()) == {"ADMIN", "USER"}   # proves the custom catalog ran


def test_parse_sample_rate():
    from xdump_spark import cli

    assert cli.parse_sample_rate("en=0.5") == ("en", 0.5)
    import argparse

    for bad in ["en", "en=x", "en=1.5"]:
        with pytest.raises(argparse.ArgumentTypeError):
            cli.parse_sample_rate(bad)


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    from xdump_spark import cli

    out = str(tmp_path / "corpus")
    shards = str(tmp_path / "shards")
    args = cli.build_parser().parse_args(
        [
            "curate",
            "-i", "/root/testdata/sf0.001/documents.parquet",
            "-o", out,
            "--span-k", "8",
            "--sample", "en=1.0",
            "--seed", "3",
            "--pack-budget", "256",
            "--tokenize",
            "--shards-out", shards,
            "--partition-by", "source",
        ]
    )
    assert cli.run(args, spark) == 0
    printed = capsys.readouterr().out
    assert "input: 500 docs" in printed and f"wrote {out}" in printed

    corpus = spark.read.parquet(out)
    assert corpus.count() > 0
    assert "source" not in corpus.schema.fieldNames() or True  # hive col round-trips
    seqs = spark.read.parquet(shards)
    assert {"seq_id", "input_ids", "n_docs", "n_tokens"} <= set(seqs.columns)
    assert seqs.count() > 0
    # corpus token total == shard token total (exactly-once through packing)
    from pyspark.sql import functions as F

    corpus_tokens = corpus.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).collect()[0][0]
    shard_tokens = seqs.select(F.sum("n_tokens")).collect()[0][0]
    assert corpus_tokens == shard_tokens


def test_cli_curate_overwrite(spark, tmp_path):
    from xdump_spark import cli

    out = str(tmp_path / "c")
    base = [
        "curate", "-i", "/root/testdata/sf0.001/documents.parquet", "-o", out,
        "--span-k", "0", "--min-tokens", "1",
    ]
    assert cli.run(cli.build_parser().parse_args(base), spark) == 0
    # second run without --overwrite fails on the existing dir
    with pytest.raises(Exception):
        cli.run(cli.build_parser().parse_args(base), spark)
    assert cli.run(cli.build_parser().parse_args(base + ["--overwrite"]), spark) == 0
    assert spark.read.parquet(out).count() == 500


def test_cli_select_dsir(spark, tmp_path, capsys):
    cook = ["bake bread with yeast", "simmer garlic butter", "knead dough and bake"]
    legal = ["the contract clause governs", "the court finds liability",
             "pursuant to the statute"]
    raw_rows = [(i, (cook[i % 3] if i % 5 == 0 else legal[i % 3]) + f" v{i}")
                for i in range(40)]
    raw_p = str(tmp_path / "raw.parquet")
    tgt_p = str(tmp_path / "target.parquet")
    out_p = str(tmp_path / "selected.parquet")
    spark.createDataFrame(raw_rows, "doc_id long, text string").write.parquet(raw_p)
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(cook)], "doc_id long, text string"
    ).write.parquet(tgt_p)
    args = cli.build_parser().parse_args(
        ["select", "-i", raw_p, "--target", tgt_p, "-o", out_p, "-n", "6",
         "--buckets", "2048", "--scores-out", str(tmp_path / "scores.parquet")]
    )
    assert cli.run(args, spark) == 0
    sel = spark.read.parquet(out_p)
    assert sel.count() == 6
    picked = [r.doc_id for r in sel.collect()]
    # the cooking minority must be enriched (8/40 raw → most of the pick)
    assert len([i for i in picked if i % 5 == 0]) >= 4
    scores = spark.read.parquet(str(tmp_path / "scores.parquet"))
    assert scores.count() == 40 and "dsir_logw" in scores.columns


@pytest.mark.parametrize("algo", ["bpe", "unigram"])
def test_cli_train_tokenizer(spark, tmp_path, capsys, algo):
    import json

    docs_p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "unhappy unkind untested kindly clearly tested") for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(docs_p)
    out = str(tmp_path / f"{algo}.json")
    args = cli.build_parser().parse_args(
        ["train-tokenizer", "-i", docs_p, "-o", out, "--algo", algo,
         "--vocab-size", "64"]
    )
    assert cli.run(args, spark) == 0
    payload = json.loads(open(out).read())
    assert payload["algo"] == algo
    if algo == "bpe":
        from xdump_spark.operators.bpe import BPETokenizer, bpe_encode

        tok = BPETokenizer.from_dict(payload)
        assert bpe_encode("unhappy", tok)
    else:
        from xdump_spark.operators.unigram import UnigramTokenizer, unigram_encode

        tok = UnigramTokenizer.from_dict(payload)
        assert unigram_encode("unhappy", tok)


def test_cli_media_profile_image_and_audio(spark, tmp_path, capsys):
    import numpy as np

    from xdump_spark.operators.audiocodec import encode_wav
    from xdump_spark.operators.imagecodec import encode_png

    img_p = str(tmp_path / "imgs.parquet")
    spark.createDataFrame(
        [(1, encode_png(np.full((4, 6, 3), 200, dtype=np.uint8))), (2, b"junk")],
        "doc_id long, blob binary",
    ).write.parquet(img_p)
    out_i = str(tmp_path / "img_prof.parquet")
    assert cli.run(cli.build_parser().parse_args(
        ["media-profile", "-i", img_p, "-o", out_i, "--kind", "image"]
    ), spark) == 0
    prof = {r.doc_id: r for r in spark.read.parquet(out_i).collect()}
    assert prof[1].width == 6 and prof[1].height == 4
    assert prof[2].width is None

    aud_p = str(tmp_path / "auds.parquet")
    t = np.arange(800) / 8000.0
    wav = encode_wav(0.5 * np.sin(2 * 3.14159 * 440 * t), 8000)
    spark.createDataFrame(
        [(1, wav)], "doc_id long, blob binary"
    ).write.parquet(aud_p)
    out_a = str(tmp_path / "aud_prof.parquet")
    assert cli.run(cli.build_parser().parse_args(
        ["media-profile", "-i", aud_p, "-o", out_a, "--kind", "audio"]
    ), spark) == 0
    arow = spark.read.parquet(out_a).collect()[0]
    assert arow.sample_rate == 8000 and arow.n_samples == 800


def test_cli_curate_url_stages(spark, tmp_path, capsys):
    """--dedup-urls/--domain-cap reach the pipeline from the CLI."""
    from pyspark.sql import functions as F

    from xdump_spark import cli

    src = str(tmp_path / "docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn(
            "url",
            F.concat(
                F.lit("http://site"), (F.col("doc_id") % 10).cast("string"),
                F.lit(".org/p"), (F.col("doc_id") % 40).cast("string"),
            ),
        )
        .write.parquet(src)
    )
    out = str(tmp_path / "corpus")
    args = cli.build_parser().parse_args(
        [
            "curate", "-i", src, "-o", out,
            "--span-k", "0", "--min-tokens", "1",
            "--dedup-urls", "--domain-cap", "2",
        ]
    )
    assert cli.run(args, spark) == 0
    printed = capsys.readouterr().out
    assert "url_deduped: 40 docs" in printed
    assert "domain_capped: 20 docs" in printed
    assert spark.read.parquet(out).count() == 20


def test_cli_curate_dedup_store_increments(spark, tmp_path):
    """--dedup-store-* flags: two CLI runs behave as increments against
    the persistent hash store."""
    import uuid

    from xdump_spark import cli

    name = f"seen_{uuid.uuid4().hex[:8]}"
    d1, d2 = str(tmp_path / "d1.parquet"), str(tmp_path / "d2.parquet")
    spark.createDataFrame(
        [(1, "alpha content"), (2, "beta content")], "doc_id long, text string"
    ).write.parquet(d1)
    spark.createDataFrame(
        [(10, "ALPHA   content"), (11, "gamma content")], "doc_id long, text string"
    ).write.parquet(d2)
    base = [
        "curate", "--span-k", "0", "--min-tokens", "1",
        "--doc-dedup", "exact",
        "--dedup-store-table", name,
        "--dedup-store-path", str(tmp_path / name),
        "--dedup-store-buckets", "4",
    ]
    try:
        assert cli.run(cli.build_parser().parse_args(
            base + ["-i", d1, "-o", str(tmp_path / "o1")]), spark) == 0
        assert cli.run(cli.build_parser().parse_args(
            base + ["-i", d2, "-o", str(tmp_path / "o2")]), spark) == 0
        out2 = spark.read.parquet(str(tmp_path / "o2"))
        assert [r.doc_id for r in out2.collect()] == [11]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_cli_curate_checkpoint_and_no_audit(spark, tmp_path, capsys):
    """--checkpoint-dir resumes on the second run (printed); --no-audit
    skips the per-stage counts."""
    from xdump_spark import cli

    ck = str(tmp_path / "ck")
    base = [
        "curate", "-i", "/root/testdata/sf0.001/documents.parquet",
        "--span-k", "8", "--min-tokens", "5",
        "--checkpoint-dir", ck,
    ]
    assert cli.run(cli.build_parser().parse_args(
        base + ["-o", str(tmp_path / "o1")]), spark) == 0
    assert "resumed from checkpoint" not in capsys.readouterr().out
    assert cli.run(cli.build_parser().parse_args(
        base + ["-o", str(tmp_path / "o2")]), spark) == 0
    printed = capsys.readouterr().out
    assert "resumed from checkpoint: cleaned, span_stripped, quality_gated" in printed
    # --no-resume rewrites
    assert cli.run(cli.build_parser().parse_args(
        base + ["-o", str(tmp_path / "o3"), "--no-resume"]), spark) == 0
    assert "resumed from checkpoint" not in capsys.readouterr().out
    # --no-audit prints no stage counts
    assert cli.run(cli.build_parser().parse_args(
        ["curate", "-i", "/root/testdata/sf0.001/documents.parquet",
         "-o", str(tmp_path / "o4"), "--span-k", "0", "--min-tokens", "1",
         "--no-audit"]), spark) == 0
    assert "input:" not in capsys.readouterr().out


def test_cli_curate_chunks(spark, tmp_path, capsys):
    """r7: --chunk-budget/--chunk-overlap/--chunks-out write the RAG
    chunk table; chunk token totals cover the corpus exactly once at
    overlap 0."""
    from pyspark.sql import functions as F

    from xdump_spark import cli

    out = str(tmp_path / "corpus")
    chunks = str(tmp_path / "chunks")
    args = cli.build_parser().parse_args([
        "curate",
        "-i", "/root/testdata/sf0.001/documents.parquet",
        "-o", out,
        "--span-k", "0", "--min-tokens", "1",
        "--chunk-budget", "32", "--chunks-out", chunks,
    ])
    assert cli.run(args, spark) == 0
    assert f"wrote chunks to {chunks}" in capsys.readouterr().out
    ch = spark.read.parquet(chunks)
    assert {"doc_id", "chunk_idx", "chunk_text", "n_tokens"} <= set(ch.columns)
    corpus_tokens = spark.read.parquet(out).select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).collect()[0][0]
    assert ch.select(F.sum("n_tokens")).collect()[0][0] == corpus_tokens


def test_cli_prepare_sft(spark, tmp_path, capsys):
    import json

    from xdump_spark import cli

    src = tmp_path / "convs.jsonl"
    rows = [
        {"conv_id": 1, "messages": [
            {"role": "user", "content": "hello world"},
            {"role": "assistant", "content": "hi"}], "source": "a"},
        {"conv_id": 2, "messages": [
            {"role": "user", "content": "HELLO   world"},
            {"role": "assistant", "content": "HI"}], "source": "a"},  # dup of 1
        {"conv_id": 3, "messages": [
            {"role": "user", "content": "q"},
            {"role": "tool", "content": "t"}], "source": "a"},        # invalid
    ]
    with open(src, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
        fh.write("{not json\n")                                       # corrupt

    vocab_dir = str(tmp_path / "vocab")
    from xdump_spark.operators.curation import build_vocab

    build_vocab(
        spark.createDataFrame([(1, "hello world hi")], "doc_id long, text string")
    ).write.parquet(vocab_dir)

    out = str(tmp_path / "sft")
    rejects = str(tmp_path / "rejects")
    corrupt = str(tmp_path / "corrupt")
    args = cli.build_parser().parse_args(
        ["prepare-sft", "-i", str(src), "-o", out,
         "--rejects-out", rejects, "--corrupt-out", corrupt,
         "--vocab", vocab_dir]
    )
    assert cli.run(args, spark) == 0
    printed = capsys.readouterr().out
    assert "input: 3" in printed and "valid: 2" in printed
    assert "deduped: 1" in printed

    convs = spark.read.parquet(out)
    assert convs.count() == 1
    row = convs.collect()[0]
    assert row["conv_id"] == 1 and "<|im_start|>user" in row["text"]
    assert spark.read.parquet(rejects).collect()[0]["reason"] == "unknown_role"
    assert spark.read.parquet(corrupt).count() == 1
    enc = spark.read.parquet(out + "/encoded")
    assert {"input_ids", "loss_mask"} <= set(enc.columns)
    assert enc.count() == 1


def test_cli_prepare_pairs(spark, tmp_path, capsys):
    import json

    from xdump_spark import cli

    src = tmp_path / "pairs.jsonl"
    rows = [
        {"pair_id": 1, "prompt": [{"role": "user", "content": "pick one"}],
         "chosen": "alpha beta", "rejected": "gamma", "source": "a"},
        {"pair_id": 2, "prompt": [{"role": "user", "content": "pick one"}],
         "chosen": "delta", "rejected": "epsilon", "source": "a"},
        {"pair_id": 3, "prompt": [{"role": "user", "content": "bad"}],
         "chosen": "same", "rejected": "same", "source": "a"},  # invalid
    ]
    with open(src, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    out = str(tmp_path / "pairs_out")
    args = cli.build_parser().parse_args(
        ["prepare-pairs", "-i", str(src), "-o", out, "--max-per-prompt", "1"]
    )
    assert cli.run(args, spark) == 0
    printed = capsys.readouterr().out
    assert "input: 3" in printed and "valid: 2" in printed
    assert "capped: 1" in printed and "length_bias:" in printed

    pairs = spark.read.parquet(out)
    assert pairs.count() == 1
    row = pairs.collect()[0]
    assert row["pair_id"] == 1
    assert row["text_chosen"].endswith("alpha beta<|im_end|>\n")


def test_cli_prepare_pairs_from_ratings(spark, tmp_path, capsys):
    import json

    from xdump_spark import cli

    src = tmp_path / "ratings.jsonl"
    rows = [
        {"prompt": "pick one", "response": "alpha", "rating": 4.0,
         "source": "a"},
        {"prompt": "pick one", "response": "beta", "rating": 1.0,
         "source": "a"},
        {"prompt": "pick one", "response": "gamma", "rating": 3.0,
         "source": "a"},
        {"prompt": "tied", "response": "x", "rating": 2.0, "source": "a"},
        {"prompt": "tied", "response": "y", "rating": 2.0, "source": "a"},
    ]
    with open(src, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    out = str(tmp_path / "rated_out")
    args = cli.build_parser().parse_args(
        ["prepare-pairs", "-i", str(src), "-o", out, "--from-ratings",
         "--rating-margin", "0.5"]
    )
    assert cli.run(args, spark) == 0
    printed = capsys.readouterr().out
    assert "input: 1" in printed  # tied prompt never becomes a pair
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    assert got[0]["chosen"] == "alpha" and got[0]["rejected"] == "beta"
    assert got[0]["chosen_rating"] == 4.0


def test_cli_datacard_kinds(spark, tmp_path, capsys):
    import json

    from xdump_spark import cli

    convs_dir = str(tmp_path / "convs")
    spark.createDataFrame(
        [(1, [{"role": "user", "content": "a"},
              {"role": "assistant", "content": "b c"}])],
        "conv_id long, messages array<struct<role:string,content:string>>",
    ).write.parquet(convs_dir)
    args = cli.build_parser().parse_args(
        ["datacard", "-i", convs_dir, "--kind", "conversations"]
    )
    assert cli.run(args, spark) == 0
    card = json.loads(capsys.readouterr().out)
    assert card["n_convs"] == 1 and card["n_tokens"] == 3

    pairs_dir = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, [{"role": "user", "content": "q"}], "aa bb", "cc")],
        "pair_id long, prompt array<struct<role:string,content:string>>, "
        "chosen string, rejected string",
    ).write.parquet(pairs_dir)
    args = cli.build_parser().parse_args(
        ["datacard", "-i", pairs_dir, "--kind", "pairs"]
    )
    assert cli.run(args, spark) == 0
    card = json.loads(capsys.readouterr().out)
    assert card["n_pairs"] == 1
    assert card["length_bias"]["frac_chosen_longer"] == 1.0


def test_cli_maintain(spark, tmp_path, capsys):
    """r8: the `maintain` subcommand — stats/compact across all five
    persistent-store kinds, retrain/balance on the VectorStore, usage
    errors for wrong kind/action combos. One JSON line per run."""
    import json
    import uuid

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        ExactHashStore,
        SignatureStore,
        VectorStore,
        incremental_exact_dedup,
        incremental_neardup,
        incremental_semantic_dedup,
    )

    def run(argv):
        args = cli.build_parser().parse_args(["maintain"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    docs = spark.createDataFrame(
        [(i, f"document number {i} with several words") for i in range(20)],
        "doc_id long, text string",
    )

    # exact
    tbl = f"maint_{uuid.uuid4().hex[:8]}"
    try:
        ex = ExactHashStore(spark, tbl, n_buckets=4,
                            path=str(tmp_path / "ex"))
        incremental_exact_dedup(docs, ex)
        st = run(["--kind", "exact", "--store-table", tbl, "--buckets", "4"])
        assert st["rows"] == 20 and st["files"] > 0
        rp = run(["--kind", "exact", "--store-table", tbl, "--buckets", "4",
                  "--action", "compact"])
        assert rp["files_after"] <= rp["files_before"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # signature
    sig = SignatureStore(spark, str(tmp_path / "sig"))
    incremental_neardup(docs, sig)
    st = run(["--kind", "signature", "--store-path", str(tmp_path / "sig")])
    assert st["rows"] > 0 and st["bands"] > 0
    rp = run(["--kind", "signature", "--store-path", str(tmp_path / "sig"),
              "--action", "compact"])
    assert rp["files_after"] <= rp["files_before"]

    # vector: stats, balance, retrain
    vecs = spark.createDataFrame(
        [(i, [float(i % 4 == 0), float(i % 4 == 1),
              float(i % 4 == 2), float(i % 4 == 3)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    vs = VectorStore(spark, str(tmp_path / "vs"))
    incremental_semantic_dedup(vecs, vs, n_cells=2)
    st = run(["--kind", "vector", "--store-path", str(tmp_path / "vs")])
    assert st["rows"] > 0 and st["cells"] > 0
    bal = run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
               "--action", "balance"])
    assert "retrain_recommended" in bal
    rt = run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
              "--action", "retrain", "--n-cells", "4"])
    assert rt["n_cells"] == 4 and rt["generation"] == 1

    # usage errors
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        run(["--kind", "exact"])  # needs --store-table
    with _pytest.raises(SystemExit):
        run(["--kind", "signature"])  # needs --store-path
    with _pytest.raises(SystemExit):
        run(["--kind", "signature", "--store-path", "x",
             "--action", "retrain"])  # vector-only


def test_cli_maintain_delete(spark, tmp_path, capsys):
    """r10: `maintain --action delete` — retention from the shell for
    the three id/content-addressable stores, plus the usage errors."""
    import json
    import uuid

    import pytest as _pytest

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        ExactHashStore,
        SignatureStore,
        VectorStore,
        incremental_exact_dedup,
        incremental_neardup,
        incremental_semantic_dedup,
    )

    def run(argv):
        args = cli.build_parser().parse_args(["maintain"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # genuinely distinct content: char-shingle MinHash would fold docs
    # differing only in one numeral into a single survivor
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}x{j}" for j in range(12)))
         for i in range(12)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3 == j) + 0.05 * i for j in range(3)])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    ids_pq = str(tmp_path / "ids.parquet")
    spark.createDataFrame([(2,), (5,)], "id long").write.parquet(ids_pq)
    docs_pq = str(tmp_path / "docs.parquet")
    docs.filter("doc_id IN (2, 5)").write.parquet(docs_pq)

    # vector
    vs = VectorStore(spark, str(tmp_path / "vs"))
    incremental_semantic_dedup(vecs, vs, threshold=0.9999, n_cells=2)
    rpt = run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
               "--action", "delete", "--delete-ids", ids_pq])
    assert rpt["deleted_rows"] == 2 and rpt["cells_rewritten"] >= 1
    assert run(["--kind", "vector", "--store-path", str(tmp_path / "vs")]
               )["rows"] == 10

    # signature
    sg = SignatureStore(spark, str(tmp_path / "sig"))
    incremental_neardup(docs, sg)
    rpt = run(["--kind", "signature", "--store-path", str(tmp_path / "sig"),
               "--action", "delete", "--delete-ids", ids_pq])
    assert rpt["deleted_rows"] > 0 and rpt["bands_rewritten"] > 0
    assert {r.id for r in sg.read().select("id").distinct().collect()} == (
        set(range(12)) - {2, 5}
    )

    # exact (by docs)
    tbl = f"ret_{uuid.uuid4().hex[:8]}"
    try:
        ex = ExactHashStore(spark, tbl, n_buckets=4,
                            path=str(tmp_path / "ex"))
        incremental_exact_dedup(docs, ex)
        rpt = run(["--kind", "exact", "--store-table", tbl,
                   "--buckets", "4", "--action", "delete",
                   "--delete-docs", docs_pq])
        assert rpt["deleted_rows"] == 2
        assert spark.table(tbl).count() == 10

        with _pytest.raises(SystemExit, match="delete-docs or"):
            run(["--kind", "exact", "--store-table", tbl, "--buckets",
                 "4", "--action", "delete"])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    with _pytest.raises(SystemExit, match="needs --delete-ids"):
        run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
             "--action", "delete"])
    with _pytest.raises(SystemExit, match="rebuild that"):
        run(["--kind", "window", "--store-path", str(tmp_path / "w"),
             "--action", "delete"])


def test_cli_maintain_window_and_text_index(spark, tmp_path, capsys):
    """maintain over the WindowHashStore and the segmented BM25 index."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.retrieval import (
        append_text_index,
        build_text_index,
        save_text_index,
    )
    from xdump_spark.operators.spans import WindowHashStore, incremental_span_flags

    def run(argv):
        args = cli.build_parser().parse_args(["maintain"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    docs = spark.createDataFrame(
        [(i, "many shared window tokens across documents here plus "
             f"unique tail {i}") for i in range(6)],
        "doc_id long, text string",
    )
    ws = WindowHashStore(spark, str(tmp_path / "ws"))
    incremental_span_flags(docs, ws, k=4)
    st = run(["--kind", "window", "--store-path", str(tmp_path / "ws")])
    assert st["rows"] > 0
    rp = run(["--kind", "window", "--store-path", str(tmp_path / "ws"),
              "--action", "compact"])
    assert set(rp) == {"files_before", "files_after", "bands_compacted"}
    assert 0 < rp["files_after"] <= rp["files_before"]

    idx_path = str(tmp_path / "bm25")
    save_text_index(build_text_index(docs, id_col="doc_id"), idx_path)
    docs2 = docs.selectExpr("doc_id + 100 AS doc_id", "text")
    append_text_index(spark, idx_path, docs2)
    st = run(["--kind", "text-index", "--store-path", idx_path])
    assert st["segments"] == 2 and st["n_docs"] == 12
    rp = run(["--kind", "text-index", "--store-path", idx_path,
              "--action", "compact"])
    assert rp["segments_before"] == 2
    st2 = run(["--kind", "text-index", "--store-path", idx_path])
    assert st2["segments"] == 1 and st2["n_docs"] == 12


def test_cli_maintain_when_files_over(spark, tmp_path, capsys):
    """--when-files-over makes scheduled compaction a cheap no-op until
    the pile is real."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        SignatureStore,
        incremental_neardup,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with several words") for i in range(10)],
        "doc_id long, text string",
    )
    sig = SignatureStore(spark, str(tmp_path / "sig"))
    incremental_neardup(docs, sig)

    def run(argv):
        args = cli.build_parser().parse_args(["maintain"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    n = run(["--kind", "signature", "--store-path", str(tmp_path / "sig")])["files"]
    skipped = run(["--kind", "signature", "--store-path", str(tmp_path / "sig"),
                   "--action", "compact", "--when-files-over", str(n + 5)])
    assert skipped["skipped"] is True and skipped["files"] == n
    done = run(["--kind", "signature", "--store-path", str(tmp_path / "sig"),
                "--action", "compact", "--when-files-over", "0"])
    assert "files_before" in done


def test_cli_maintain_vector_store_absent(spark, tmp_path, capsys):
    """Scheduled maintenance pointed at a not-yet-populated VectorStore
    no-ops (0-stats / skipped compact) instead of crashing; retrain on
    a meta-only shell raises the helpful error, not PATH_NOT_FOUND."""
    import json

    import pytest as _pytest

    from xdump_spark import cli
    from xdump_spark.operators.incremental import VectorStore

    def run(argv):
        args = cli.build_parser().parse_args(["maintain"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    p = str(tmp_path / "vs_nope")
    assert run(["--kind", "vector", "--store-path", p]) == {
        "files": 0, "bytes": 0, "rows": 0, "cells": 0}
    assert run(["--kind", "vector", "--store-path", p,
                "--action", "compact"])["files_before"] == 0

    # meta-only shell (first increment crashed pre-commit): retrain says so
    from xdump_spark import fsutil

    store = VectorStore(spark, p)
    fsutil.write_text_atomic(
        spark, p + "/meta.json", '{"centers": [[1.0, 0.0]], "n_cells": 1}'
    )
    with _pytest.raises(ValueError, match="no vectors"):
        store.retrain(4)


def test_cli_maintain_retrain_when_recommended(spark, tmp_path, capsys):
    """r9: `--when-recommended` makes a scheduled retrain a cheap no-op
    (one cell-count groupBy) until ivf_balance actually trips."""
    import json

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    store = VectorStore(spark, str(tmp_path / "vs"))
    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(4)] + [
        (10 + i, [-1.0, 0.02 * i, 0.0]) for i in range(4)
    ]
    incremental_semantic_dedup(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        store, threshold=0.9999, n_cells=2,
    )
    gen0 = store._meta().get("generation", 0)

    def run(extra):
        args = cli.build_parser().parse_args(
            ["maintain", "--kind", "vector",
             "--store-path", str(tmp_path / "vs"),
             "--action", "retrain", "--n-cells", "2"] + extra
        )
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # balanced store, default triggers: skipped, generation unchanged
    rpt = run(["--when-recommended"])
    assert rpt["skipped"] is True and not rpt["retrain_recommended"]
    assert store._meta().get("generation", 0) == gen0

    # force the trigger (hot_cell_factor < 1 always trips): retrains
    rpt = run(["--when-recommended", "--hot-cell-factor", "0.5"])
    assert rpt == {"n_cells": 2, "rows": 8, "generation": gen0 + 1}
    assert store._meta()["generation"] == gen0 + 1


def test_cli_maintain_pq_vector_store(spark, tmp_path, capsys):
    """r10: the full maintain lifecycle over a PRODUCT-QUANTIZED
    VectorStore — stats reports the codec shape, compact preserves the
    code schema, balance prunes the decode, retrain re-buckets the
    codes losslessly. The CLI opens the store with the default ctor
    dtype; the meta must win."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    def run(argv):
        args = cli.build_parser().parse_args(["maintain"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    vecs = spark.createDataFrame(
        [(i, [float(i % 4 == j) for j in range(4)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    vs = VectorStore(spark, str(tmp_path / "vs"), dtype="pq", pq_m=2)
    incremental_semantic_dedup(vecs, vs, n_cells=2)

    st = run(["--kind", "vector", "--store-path", str(tmp_path / "vs")])
    assert st["dtype"] == "pq" and st["pq_m"] == 2 and st["rows"] > 0
    bal = run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
               "--action", "balance"])
    assert "retrain_recommended" in bal
    before = {
        r["neighbor_id"]: list(r["codes"])
        for r in spark.read.parquet(str(tmp_path / "vs") + "/assigned").collect()
    }
    rt = run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
              "--action", "retrain", "--n-cells", "3"])
    assert rt["n_cells"] == 3 and rt["generation"] == 1
    after = {
        r["neighbor_id"]: list(r["codes"])
        for r in spark.read.parquet(
            str(tmp_path / "vs") + "/assigned_g1"
        ).collect()
    }
    assert before == after  # the CLI retrain is the code-lossless one
    rp = run(["--kind", "vector", "--store-path", str(tmp_path / "vs"),
              "--action", "compact"])
    assert rp["files_after"] <= rp["files_before"]


def test_cli_search_vector_store(spark, tmp_path, capsys):
    """r10: `search` — ANN top-k over a persistent VectorStore from the
    shell, float and pq stores, pq with exact re-ranking against the
    raw corpus."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 5 == j) + 0.01 * i for j in range(5)])
         for i in range(25)],
        "vec_id long, embedding array<double>",
    )
    corpus_pq = str(tmp_path / "corpus.parquet")
    vecs.write.parquet(corpus_pq)
    q_path = str(tmp_path / "queries.parquet")
    vecs.filter("vec_id IN (0, 7)").write.parquet(q_path)

    def run(argv):
        args = cli.build_parser().parse_args(["search"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    f64 = VectorStore(spark, str(tmp_path / "f64"))
    incremental_semantic_dedup(vecs, f64, threshold=0.9999, n_cells=3)
    out1 = str(tmp_path / "out1")
    rpt = run(["--store-path", str(tmp_path / "f64"), "-q", q_path,
               "-o", out1, "-k", "3", "--n-probe", "3"])
    assert rpt["score"] == "cosine_sim" and rpt["rows"] == 6
    got = spark.read.parquet(out1)
    assert {r.query_id for r in got.collect()} == {0, 7}

    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq", pq_m=5,
                     pq_k=100)
    incremental_semantic_dedup(vecs, pq, threshold=0.9999, n_cells=3)
    out2 = str(tmp_path / "out2")
    rpt = run(["--store-path", str(tmp_path / "pq"), "-q", q_path,
               "-o", out2, "-k", "3", "--n-probe", "3",
               "--rerank", "10", "--corpus", corpus_pq])
    assert rpt["score"] == "cosine_sim" and rpt["rows"] == 6
    # exact rerank scores match the float store's
    a = {(r.query_id, r.rn): (r.neighbor_id, r.cosine_sim)
         for r in spark.read.parquet(out1).collect()}
    b = {(r.query_id, r.rn): (r.neighbor_id, r.cosine_sim)
         for r in spark.read.parquet(out2).collect()}
    assert a == b

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="no VectorStore"):
        run(["--store-path", str(tmp_path / "nope"), "-q", q_path,
             "-o", str(tmp_path / "out3")])


def test_cli_search_signature_and_exact(spark, tmp_path, capsys):
    """r10: `search --kind signature|exact` — the read-only store
    queries (probe / contains) from the shell."""
    import json
    import uuid

    import pytest as _pytest

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        ExactHashStore,
        SignatureStore,
        incremental_exact_dedup,
        incremental_neardup,
    )

    BASE = ("the quick brown fox jumps over the lazy dog "
            "again and again in the yard")
    NEAR = ("the quick brown fox jumped over the lazy dog "
            "again and again in the yard")
    OTHER = ("completely different content about distributed "
             "query engines and shuffles")
    docs = spark.createDataFrame(
        [(1, BASE), (3, OTHER)], "doc_id long, text string"
    )

    def run(argv):
        args = cli.build_parser().parse_args(["search"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    sig = SignatureStore(spark, str(tmp_path / "sig"))
    incremental_neardup(docs, sig)
    q_path = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(10, NEAR), (12, "nothing like the stored docs at all here")],
        "doc_id long, text string",
    ).write.parquet(q_path)
    out = str(tmp_path / "probe_out")
    rpt = run(["--kind", "signature", "--store-path", str(tmp_path / "sig"),
               "-q", q_path, "-o", out])
    assert rpt["kind"] == "signature" and rpt["rows"] == 1
    got = spark.read.parquet(out).collect()
    assert (got[0].query_id, got[0].stored_id) == (10, 1)

    tbl = f"srch_{uuid.uuid4().hex[:8]}"
    try:
        ex = ExactHashStore(spark, tbl, n_buckets=4,
                            path=str(tmp_path / "ex"))
        incremental_exact_dedup(docs, ex)
        q2 = str(tmp_path / "q2.parquet")
        spark.createDataFrame(
            [(20, BASE.upper()), (21, "novel text")],
            "doc_id long, text string",
        ).write.parquet(q2)
        out2 = str(tmp_path / "contains_out")
        rpt = run(["--kind", "exact", "--store-table", tbl,
                   "--buckets", "4", "-q", q2, "-o", out2])
        assert rpt == {"kind": "exact", "store": tbl, "rows": 2,
                       "stored": 1}
        got = {r.doc_id: r.is_stored
               for r in spark.read.parquet(out2).collect()}
        assert got == {20: True, 21: False}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    with _pytest.raises(SystemExit, match="needs --store-path"):
        run(["--kind", "signature", "-q", q_path, "-o", out])
    with _pytest.raises(SystemExit, match="needs --store-table"):
        run(["--kind", "exact", "-q", q_path, "-o", out])


def test_cli_search_hybrid(spark, tmp_path, capsys):
    """r10: `search --text-index` — hybrid BM25 ⊕ store-ANN RRF from
    the shell, equal to the library hybrid_topk on the same inputs."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.retrieval import (
        build_text_index,
        hybrid_topk,
        save_text_index,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = spark.createDataFrame(
        [(i, f"{words[i % 5]} {words[(i + 1) % 5]} text") for i in range(20)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.02 * i for j in range(4)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    idx = build_text_index(docs)
    idx_dir = str(tmp_path / "tidx")
    save_text_index(idx, idx_dir)
    store = VectorStore(spark, str(tmp_path / "vs"))
    incremental_semantic_dedup(vecs, store, threshold=0.9999, n_cells=3)

    queries = spark.createDataFrame(
        [(3, "alpha beta", [1.0, 0.0, 0.0, 0.1]),
         (8, "gamma delta", [0.0, 1.0, 0.0, 0.2])],
        "vec_id long, query string, embedding array<double>",
    )
    q_path = str(tmp_path / "hq.parquet")
    queries.write.parquet(q_path)

    def run(argv):
        args = cli.build_parser().parse_args(["search"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out = str(tmp_path / "hout")
    rpt = run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
               "-o", out, "-k", "3", "--n-probe", "3",
               "--text-index", idx_dir, "--weights", "1,2"])
    assert rpt["score"] == "rrf_score" and rpt["rows"] == 6
    got = {(r.query_id, r.rnk): (r.doc_id, r.rrf_score)
           for r in spark.read.parquet(out).collect()}
    exp_df = hybrid_topk(
        idx, store, queries, k=3, n_probe=3, query_id_col="vec_id",
        weights=(1.0, 2.0),
    )
    exp = {(r.query_id, r.rnk): (r.doc_id, r.rrf_score)
           for r in exp_df.collect()}
    assert got == exp

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="rerank"):
        run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
             "-o", out, "--text-index", idx_dir, "--rerank", "5"])
    with _pytest.raises(SystemExit, match="two numbers"):
        run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
             "-o", out, "--text-index", idx_dir, "--weights", "1"])
    with _pytest.raises(SystemExit, match="bad --weights"):
        run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
             "-o", out, "--text-index", idx_dir, "--weights", "a,b"])


def test_cli_search_mmr(spark, tmp_path, capsys):
    """r11: `search --mmr K --mmr-lambda` — MMR-diversify the search
    shortlist from the shell, equal to the library mmr_rerank composed
    with the same search; works on both the ANN and hybrid paths;
    --mmr without --corpus fails with guidance."""
    import json

    import pytest as _pytest

    from xdump_spark import cli
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.retrieval import (
        build_text_index,
        mmr_rerank,
        save_text_index,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = spark.createDataFrame(
        [(i, f"{words[i % 5]} {words[(i + 1) % 5]} text") for i in range(20)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.02 * i for j in range(4)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    corpus_path = str(tmp_path / "corpus.parquet")
    vecs.write.parquet(corpus_path)
    idx_dir = str(tmp_path / "tidx")
    save_text_index(build_text_index(docs), idx_dir)
    store = VectorStore(spark, str(tmp_path / "vs"))
    incremental_semantic_dedup(vecs, store, threshold=0.9999, n_cells=3)

    queries = spark.createDataFrame(
        [(3, "alpha beta", [1.0, 0.0, 0.0, 0.1])],
        "vec_id long, query string, embedding array<double>",
    )
    q_path = str(tmp_path / "q.parquet")
    queries.write.parquet(q_path)

    def run(argv):
        args = cli.build_parser().parse_args(["search"] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # ANN path: search top-6 then MMR down to 3
    out = str(tmp_path / "out")
    rpt = run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
               "-o", out, "-k", "6", "--n-probe", "3",
               "--corpus", corpus_path, "--mmr", "3",
               "--mmr-lambda", "0.7"])
    assert rpt["score"] == "mmr_score" and rpt["rows"] == 3
    got = {(r.query_id, r.rnk): (r.neighbor_id, r.mmr_score)
           for r in spark.read.parquet(out).collect()}
    base = store.search(queries, k=6, n_probe=3)
    exp = {(r.query_id, r.rnk): (r.neighbor_id, r.mmr_score)
           for r in mmr_rerank(base, vecs, k=3, lam=0.7,
                               id_col="neighbor_id",
                               score_col=base.columns[2]).collect()}
    assert got == exp

    # hybrid path composes too (corpus allowed WITH --mmr)
    rpt = run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
               "-o", out, "-k", "6", "--n-probe", "3",
               "--text-index", idx_dir,
               "--corpus", corpus_path, "--mmr", "3"])
    assert rpt["score"] == "mmr_score" and rpt["rows"] == 3

    # r12: a FLOAT store serves its own diversity vectors — --mmr
    # without --corpus works and equals the corpus-fed run exactly
    # (the store holds the same floats the corpus file does)
    out2 = str(tmp_path / "out2")
    rpt = run(["--store-path", str(tmp_path / "vs"), "-q", q_path,
               "-o", out2, "-k", "6", "--n-probe", "3",
               "--mmr", "3", "--mmr-lambda", "0.7"])
    assert rpt["score"] == "mmr_score" and rpt["rows"] == 3
    self_served = {(r.query_id, r.rnk): (r.neighbor_id, r.mmr_score)
                   for r in spark.read.parquet(out2).collect()}
    assert self_served == exp

    # pq stores hold only codes: --mmr still needs --corpus there
    pq = VectorStore(spark, str(tmp_path / "vspq"), dtype="pq",
                     pq_m=2, pq_k=4)
    incremental_semantic_dedup(vecs, pq, threshold=0.9999, n_cells=3)
    with _pytest.raises(SystemExit, match="--corpus"):
        run(["--store-path", str(tmp_path / "vspq"), "-q", q_path,
             "-o", out, "--mmr", "3"])

    # r13: --allow-recon opts the pq store into serving PQ
    # reconstructions as the diversity vectors — no side table needed
    out3 = str(tmp_path / "out3")
    rpt = run(["--store-path", str(tmp_path / "vspq"), "-q", q_path,
               "-o", out3, "-k", "6", "--n-probe", "3",
               "--mmr", "3", "--mmr-lambda", "0.7", "--allow-recon"])
    assert rpt["score"] == "mmr_score" and rpt["rows"] == 3


def test_cli_prepare_rag(spark, tmp_path, capsys):
    """r11 `prepare-rag` e2e: two runs, the second a pure re-send —
    zero new chunks, index untouched; the first run's chunks are
    immediately hybrid-searchable via `search --text-index`."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.retrieval import load_text_index

    body1 = " ".join(f"alpha{i} beta{i}" for i in range(30))
    body2 = " ".join(f"gamma{i} delta{i}" for i in range(30))
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, body1), (2, body2)], "doc_id long, text string"
    ).write.parquet(docs)

    def run(cmd, argv):
        args = cli.build_parser().parse_args([cmd] + argv)
        assert cli.run(args, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    base = ["-i", docs, "--store-path", str(tmp_path / "vs"),
            "--index-dir", str(tmp_path / "tidx"),
            "-o", str(tmp_path / "chunks"),
            "--max-tokens", "16", "--overlap", "4",
            "--hash-embed", "64", "--threshold", "0.9", "--cells", "2"]
    rpt = run("prepare-rag", base)
    n = rpt["audit"]["accepted_chunks"]
    assert n == rpt["audit"]["chunks"] > 2
    assert load_text_index(spark, str(tmp_path / "tidx")).n_docs == n

    rpt2 = run("prepare-rag", base)  # pure re-send: an increment no-op
    assert rpt2["audit"]["accepted_chunks"] == 0
    assert rpt2["index_entry"] is None
    assert load_text_index(spark, str(tmp_path / "tidx")).n_docs == n

    # the indexed chunks serve hybrid search from the shell
    q = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(7, "alpha3 beta3", [0.1] * 64)],
        "vec_id long, query string, embedding array<double>",
    ).write.parquet(q)
    srpt = run("search", ["--store-path", str(tmp_path / "vs"),
                          "-q", q, "-o", str(tmp_path / "hits"),
                          "-k", "3", "--text-index",
                          str(tmp_path / "tidx")])
    assert srpt["score"] == "rrf_score" and srpt["rows"] == 3

    # r12 `maintain --kind rag`: the chain's artifacts as one unit —
    # combined stats, then whole-document forget across store + index
    # + survivor corpus; validation requires --index-dir
    mrpt = run("maintain", ["--kind", "rag",
                            "--store-path", str(tmp_path / "vs"),
                            "--index-dir", str(tmp_path / "tidx")])
    assert mrpt["store"]["rows"] == n and mrpt["index"]["n_docs"] == n

    doomed = str(tmp_path / "doomed.parquet")
    spark.createDataFrame([(1,)], "doc_id long").write.parquet(doomed)
    drpt = run("maintain", ["--kind", "rag",
                            "--store-path", str(tmp_path / "vs"),
                            "--index-dir", str(tmp_path / "tidx"),
                            "--corpus-dir", str(tmp_path / "chunks"),
                            "--action", "delete",
                            "--delete-ids", doomed])
    per_doc = n // 2
    assert drpt["store"]["deleted_rows"] == per_doc
    assert drpt["index"]["deleted_docs"] == per_doc
    assert drpt["corpus_rows_deleted"] == per_doc
    assert load_text_index(spark, str(tmp_path / "tidx")).n_docs == n - per_doc
    left = spark.read.parquet(str(tmp_path / "chunks"))
    assert {r["doc_id"] for r in left.select("doc_id").collect()} == {2}

    # r13: stats sees the corpus when --corpus-dir is given, and
    # --action compact maintains all three artifacts in one command
    srpt2 = run("maintain", ["--kind", "rag",
                             "--store-path", str(tmp_path / "vs"),
                             "--index-dir", str(tmp_path / "tidx"),
                             "--corpus-dir", str(tmp_path / "chunks")])
    assert srpt2["corpus"]["layout"] == "bucketed"
    assert srpt2["corpus"]["files"] >= 1

    crpt = run("maintain", ["--kind", "rag",
                            "--store-path", str(tmp_path / "vs"),
                            "--index-dir", str(tmp_path / "tidx"),
                            "--corpus-dir", str(tmp_path / "chunks"),
                            "--action", "compact"])
    assert {"store", "index", "corpus"} <= set(crpt)
    assert crpt["index"]["segments_before"] >= 1
    # rows survive compaction (doc 2's chunks, post-forget)
    left2 = spark.read.parquet(str(tmp_path / "chunks"))
    assert {r["doc_id"] for r in left2.select("doc_id").collect()} == {2}
    assert left2.count() == per_doc

    # scheduled form: --when-files-over gates on the chain's TOTAL
    # file count, making an aggressive cron schedule a cheap no-op
    grpt = run("maintain", ["--kind", "rag",
                            "--store-path", str(tmp_path / "vs"),
                            "--index-dir", str(tmp_path / "tidx"),
                            "--corpus-dir", str(tmp_path / "chunks"),
                            "--action", "compact",
                            "--when-files-over", "100000"])
    assert grpt.get("skipped") is True and grpt["files"] >= 1

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="--index-dir"):
        run("maintain", ["--kind", "rag",
                         "--store-path", str(tmp_path / "vs")])


def test_curate_cli_and_config_lockstep(spark, tmp_path, monkeypatch):
    """The CLI's curate flags and the equivalent curate config reach
    prepare_training_corpus with the same arguments: both surfaces run
    through config.run_curate, so they cannot drift apart."""
    import json

    from xdump_spark import pipeline

    captured = []

    class _Result:
        audit, resumed, mixture_rates = {}, [], None
        sequences = chunks = card = None

    def fake(docs, **kwargs):
        store = kwargs.pop("dedup_store")
        captured.append((docs.columns, type(store), vars(store), kwargs))
        return _Result()

    monkeypatch.setattr(pipeline, "prepare_training_corpus", fake)
    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    terms = tmp_path / "terms.txt"
    terms.write_text("spam\n\n  eggs  \n")
    assert cli.run(cli.build_parser().parse_args([
        "curate", "-i", docs, "-o", out, "--span-k", "0", "--min-tokens", "2",
        "--doc-dedup", "exact", "--dedup-store-table", "seen",
        "--dedup-store-buckets", "8", "--blocklist", str(terms),
        "--sample", "en=0.5", "--sample", "de=1.0",
        "--splits", "train=0.9,val=0.1", "--split-seed", "7", "--seed", "3",
        "--checkpoint-dir", ck, "--checkpoint-stages", "cleaned, deduped",
        "--no-resume", "--no-audit", "--overwrite",
    ]), spark) == 0
    cfg = tmp_path / "curate.json"
    cfg.write_text(json.dumps({
        "input": docs, "output": out, "span_k": 0, "min_tokens": 2,
        "doc_dedup": "exact", "dedup_store": {"table": "seen", "n_buckets": 8},
        "blocklist": ["spam", "eggs"],
        "sample_rates": {"en": 0.5, "de": 1.0},
        "splits": {"train": 0.9, "val": 0.1}, "split_seed": 7,
        "shuffle_seed": 3, "checkpoint_dir": ck,
        "checkpoint_stages": ["cleaned", "deduped"],
        "resume": False, "audit": False, "overwrite": True,
    }))
    from xdump_spark.config import curate_from_config

    curate_from_config(spark, str(cfg))
    cli_call, cfg_call = captured
    assert cli_call == cfg_call
    assert cli_call[3]["blocklist"] == ["spam", "eggs"]
    assert cli_call[3]["checkpoint_stages"] == {"cleaned", "deduped"}
