"""End-to-end corpus preparation (pipeline.prepare_training_corpus):
the whole stage chain over the real driver testdata, with the audit
trail, the reproducibility contract, and every stage's visible effect
asserted in one place."""

import pytest

from xdump_spark.pipeline import prepare_training_corpus

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_full_pipeline_on_real_docs(spark, docs, tmp_path):
    # Benchmark docs must survive BOTH sampling (en-only) and span
    # stripping (text unchanged) or decontamination legitimately finds
    # nothing — stripping already removed the cross-doc copies. Pick 5
    # en docs whose text the strip stage provably leaves intact.
    from xdump_spark.operators.cleaning import normalize_text, redact_pii
    from xdump_spark.operators.spans import strip_duplicated_spans

    pre = strip_duplicated_spans(redact_pii(normalize_text(docs)), k=8)
    intact_en = (
        pre.filter("n_removed_tokens = 0 AND lang = 'en'")
        .select("doc_id")
        .limit(5)
    )
    bench = docs.join(intact_en, "doc_id").selectExpr("doc_id", "text")
    n_bench = bench.count()
    assert n_bench == 5

    out = str(tmp_path / "corpus")
    res = prepare_training_corpus(
        docs,
        span_k=8,
        min_tokens=5,
        sample_rates={"en": 1.0},
        benchmark=bench,
        shuffle_seed=7,
        pack_budget=256,
        out_dir=out,
        partition_by=("source",),
    )
    a = res.audit
    assert a["input"] == 500
    assert a["cleaned"] == 500                      # cleaning never drops rows
    assert a["span_stripped"] == 500                # stripping rewrites, keeps rows
    assert a["quality_gated"] <= a["span_stripped"]
    assert 0 < a["sampled"] <= a["quality_gated"]
    # the benchmark docs contaminate at least themselves
    assert a["decontaminated"] <= a["sampled"] - n_bench

    # written corpus round-trips with the same rows as the final frame
    written = spark.read.parquet(out)
    assert written.count() == a["decontaminated"]
    assert set(r.source for r in written.select("source").distinct().collect())

    # packed sequences cover every surviving doc exactly once within budget
    seqs = res.sequences.collect()
    packed_ids = [d for r in seqs for d in r.doc_ids]
    assert sorted(packed_ids) == sorted(
        r.doc_id for r in res.corpus.select("doc_id").collect()
    )
    assert all(r.total_tokens <= 256 or r.n_docs == 1 for r in seqs)


def test_pipeline_reproducible(spark, docs):
    kw = dict(span_k=8, min_tokens=5, shuffle_seed=3, audit=False)
    a = [r.doc_id for r in prepare_training_corpus(docs, **kw).corpus.collect()]
    b = [
        r.doc_id
        for r in prepare_training_corpus(docs.repartition(7), **kw).corpus.collect()
    ]
    assert a == b and len(a) > 0  # same docs, same ORDER, any partitioning


def test_pipeline_stages_optional(spark, docs):
    res = prepare_training_corpus(
        docs, span_k=None, sample_rates=None, benchmark=None, audit=True
    )
    assert set(res.audit) == {"input", "cleaned", "quality_gated"}
    assert res.sequences is None
    assert res.corpus.count() == res.audit["quality_gated"]


def test_pipeline_web_crawl_stages_and_shards(spark, tmp_path):
    """The crawl-shaped path: markup -> line filter -> line dedup -> span
    strip -> shuffle -> tokenized training shards."""
    boiler = "subscribe to our newsletter for updates today."
    rows = [
        (
            i,
            f"<div>Document number {i} has plenty of proper sentence words here.</div>\n"
            f"{boiler}\n"
            "short\n"
            f"Another unique closing sentence for document {i} follows now.",
            "en",
            "web",
        )
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    res = prepare_training_corpus(
        docs,
        markup=True,
        line_filter=True,
        line_dedup=True,
        span_k=None,
        min_tokens=3,
        pack_budget=128,
        tokenize=True,
        audit=True,
    )
    a = res.audit
    assert a["input"] == 30
    assert a["line_filtered"] == 30           # every doc keeps its long lines
    assert a["line_deduped"] == 30            # boilerplate line removed, docs survive
    corpus = {r.doc_id: r.text for r in res.corpus.collect()}
    assert sum(boiler in t for t in corpus.values()) == 1  # kept once, globally
    assert all("<div>" not in t for t in corpus.values())
    # tokenized shards cover every surviving doc's tokens exactly once
    assert res.vocab is not None
    total_tokens = sum(len(t.split()) for t in corpus.values())
    assert sum(r.n_tokens for r in res.sequences.collect()) == total_tokens


def test_pipeline_empty_input(spark, tmp_path):
    """An empty corpus flows through every stage without crashing:
    empty corpus out, empty shards, zero audit counts."""
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    res = prepare_training_corpus(
        empty,
        span_k=8,
        sample_rates={"en": 1.0},
        pack_budget=128,
        tokenize=True,
        audit=True,
    )
    assert res.audit["input"] == 0
    assert res.corpus.count() == 0
    assert res.sequences.count() == 0


def test_pipeline_gopher_stage(spark):
    """The Gopher gate drops the synthetic word-salad corpus (no real
    stopword structure) and the audit records the stage; relaxed rules
    would keep docs — proven at the operator level, here we pin the
    stage wiring + helper-column cleanup."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    res = prepare_training_corpus(
        docs, span_k=None, gopher=True, min_tokens=1, audit=True
    )
    assert "gopher_gated" in res.audit
    assert res.audit["gopher_gated"] <= res.audit["quality_gated"]
    assert "drop_reasons" not in res.corpus.columns and "kept" not in res.corpus.columns


def test_pipeline_classifier_mixture_and_card(spark, docs, tmp_path):
    """The round-4 selection stages composed: classifier gate ->
    mixture rebalance -> data card, with the audit recording each."""
    import json

    from pyspark.sql import functions as F

    from xdump_spark.operators.classifier import (
        fit_linear_classifier,
        quality_feature_frame,
    )

    # weak labels from the corpus's own median TTR (both classes present)
    feats = quality_feature_frame(docs)
    med = feats.approxQuantile("ttr", [0.5], 0.0)[0]
    labeled = feats.withColumn("label", (F.col("ttr") > med).cast("int"))
    model = fit_linear_classifier(labeled)

    present = [r.source for r in docs.select("source").distinct().collect()]
    target = {s: 1.0 / len(present) for s in present}

    res = prepare_training_corpus(
        docs,
        span_k=None,
        min_tokens=1,
        quality_model=model,
        quality_score_min=0.5,
        target_mixture=target,
        make_card=True,
        out_dir=str(tmp_path / "corpus"),
    )
    assert "classifier_gated" in res.audit and "mixture_rebalanced" in res.audit
    assert 0 < res.audit["classifier_gated"] < res.audit["input"]
    assert res.audit["mixture_rebalanced"] <= res.audit["classifier_gated"]
    # rates cover every surviving source; at least one source is binding
    assert res.mixture_rates and max(res.mixture_rates.values()) == 1.0
    assert all(0 < r <= 1.0 for r in res.mixture_rates.values())
    # the card describes the OUTPUT corpus and is JSON-serializable
    assert res.card["n_docs"] == res.audit["mixture_rebalanced"]
    json.dumps(res.card)
    # classifier gate actually selects high-TTR docs
    kept = res.corpus.join(labeled.select("doc_id", "label"), "doc_id")
    frac_pos = kept.filter("label = 1").count() / kept.count()
    assert frac_pos > 0.8


def test_curate_cli_quality_and_mixture_flags(spark, tmp_path):
    """CLI round-trip: --quality-model + --mixture + --card-out."""
    import json

    from pyspark.sql import functions as F

    from xdump_spark.cli import build_parser, run
    from xdump_spark.operators.classifier import (
        fit_linear_classifier,
        quality_feature_frame,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = quality_feature_frame(docs)
    med = feats.approxQuantile("ttr", [0.5], 0.0)[0]
    model = fit_linear_classifier(
        feats.withColumn("label", (F.col("ttr") > med).cast("int"))
    )
    model_path = tmp_path / "model.json"
    model_path.write_text(json.dumps(model.to_dict()))

    src = [r.source for r in docs.select("source").distinct().limit(3).collect()]
    card_path = tmp_path / "card.json"
    args = build_parser().parse_args(
        [
            "curate", "-i", f"{SF}/documents.parquet", "-o", str(tmp_path / "corpus"),
            "--span-k", "0", "--min-tokens", "1",
            "--quality-model", str(model_path), "--quality-min", "0.5",
            "--mixture", f"{src[0]}=0.4", "--mixture", f"{src[1]}=0.3",
            "--mixture", f"{src[2]}=0.3",
            "--card-out", str(card_path),
        ]
    )
    assert run(args, spark) == 0
    card = json.loads(card_path.read_text())
    assert set(s["source"] for s in card["sources"]) <= set(src)
    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert out.count() == card["n_docs"] > 0


def test_pipeline_blocklist_stage(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "good clean words here today"), (2, "this has a banned term inside"),
         (3, "more good text for the corpus run")],
        "doc_id long, text string",
    )
    res = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, blocklist=["banned"],
    )
    assert res.audit["blocklist_gated"] == 2
    assert {r.doc_id for r in res.corpus.collect()} == {1, 3}


def test_pipeline_contamination_strip_policy(spark):
    """strip policy removes only the overlapped spans; the doc survives
    (vs the default drop policy which removes it entirely)."""
    quote = "one two three four five six seven eight"
    doc = ("useful original content comes first in this document then "
           f"{quote} and then much more useful original content follows after")
    docs = spark.createDataFrame(
        [(1, doc), (2, "a fully clean document with many original tokens in it")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, quote)], "doc_id long, text string")

    dropped = prepare_training_corpus(
        docs, span_k=8, min_tokens=1, benchmark=bench,
    )
    assert dropped.audit["decontaminated"] == 1  # doc 1 dropped

    stripped = prepare_training_corpus(
        docs, span_k=8, min_tokens=1, benchmark=bench,
        contamination_policy="strip",
    )
    assert stripped.audit["decontaminated"] == 2  # doc 1 survives, cut
    texts = {r.doc_id: r.text for r in stripped.corpus.collect()}
    assert "eight" not in texts[1].split() and "useful" in texts[1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="contamination_policy"):
        prepare_training_corpus(
            docs, span_k=8, benchmark=bench, contamination_policy="quarantine"
        )


def test_pipeline_strip_policy_drops_fully_stripped_docs(spark):
    """A doc whose text is ENTIRELY benchmark-covered rewrites to empty
    and must not reach the corpus even at min_tokens=1 (regression:
    split('') has size 1, so the token floor alone passes empty text)."""
    quote = "q1 q2 q3 q4 q5 q6 q7 q8"
    docs = spark.createDataFrame(
        [(1, quote), (2, "clean original words that stay put here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, quote)], "doc_id long, text string")
    res = prepare_training_corpus(
        docs, span_k=8, min_tokens=1, benchmark=bench,
        contamination_policy="strip",
    )
    assert res.audit["decontaminated"] == 1
    assert {r.doc_id for r in res.corpus.collect()} == {2}


def test_pipeline_doc_dedup_stages(spark):
    """Both doc-level dedup modes: exact removes normalized duplicates
    keep-min-id; fuzzy additionally collapses near-duplicate docs."""
    from xdump_spark.pipeline import prepare_training_corpus

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),   # exact dup
        (3, "  THE quick  brown fox jumps over the lazy dog tonight"),  # dup mod ws/case
        (4, "the quick brown fox jumps over the sleepy dog tonight"),  # near dup
        (5, "completely different text about apples oranges and pears"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, doc_dedup="exact"
    )
    kept = {r.doc_id for r in exact.corpus.collect()}
    assert kept == {1, 4, 5}
    assert exact.audit["doc_deduped"] == 3

    fuzzy = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, doc_dedup="fuzzy", fuzzy_threshold=0.5
    )
    kept_f = {r.doc_id for r in fuzzy.corpus.collect()}
    assert kept_f == {1, 5}   # 4 joins 1's near-dup cluster at tau=0.5
    assert fuzzy.audit["doc_deduped"] == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="doc_dedup"):
        prepare_training_corpus(docs, span_k=None, doc_dedup="nope")


def test_pipeline_compression_gate(spark):
    from xdump_spark.pipeline import prepare_training_corpus

    rows = [
        (1, "spam ham eggs " * 100),      # redundant → low ratio → dropped
        (2, "k9#xQ v7$mZ p2@wL n5&rB c8*dT y4^fH u6%gJ w3(kM"),  # incompressible
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, compression_min=0.2
    )
    assert {r.doc_id for r in res.corpus.collect()} == {2}
    assert res.audit["compression_gated"] == 1


def test_pipeline_audio_gate_mixed_corpus(spark):
    """r6 (VERDICT r5 #8): mixed text+WAV corpus through the audio gate —
    real-codec duration/rms floors drop bad audio, blob-less text docs
    pass through, audit counts are exact."""
    import numpy as np

    from xdump_spark.operators.audiocodec import encode_wav
    from xdump_spark.pipeline import prepare_training_corpus

    rate = 8000
    t = np.arange(rate, dtype=np.float64) / rate  # 1.0 s
    loud = encode_wav((0.5 * np.sin(2 * np.pi * 440 * t))[:, None], rate)
    quiet = encode_wav((0.001 * np.sin(2 * np.pi * 440 * t))[:, None], rate)
    short = encode_wav((0.5 * np.sin(2 * np.pi * 440 * t[: rate // 100]))[:, None], rate)
    rows = [
        (1, "a good doc with plenty of words here", bytearray(loud)),
        (2, "quiet audio should be dropped by rms floor", bytearray(quiet)),
        (3, "short audio should be dropped by duration", bytearray(short)),
        (4, "corrupt audio drops the doc entirely too", bytearray(b"not audio")),
        (5, "a text only document passes straight through", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, blob binary")
    res = prepare_training_corpus(
        docs,
        span_k=None,
        min_tokens=1,
        audio_gate={"min_duration_s": 0.5, "min_rms": 0.01},
    )
    assert {r.doc_id for r in res.corpus.collect()} == {1, 5}
    assert res.audit["audio_gated"] == 2

    # keep_missing=False: the blob-less doc is dropped as well
    strict = prepare_training_corpus(
        docs,
        span_k=None,
        min_tokens=1,
        audit=False,
        audio_gate={"min_duration_s": 0.5, "min_rms": 0.01, "keep_missing": False},
    )
    assert {r.doc_id for r in strict.corpus.collect()} == {1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown audio_gate"):
        prepare_training_corpus(docs, span_k=None, audio_gate={"min_rmz": 1})
    with _pytest.raises(ValueError, match="blob column"):
        prepare_training_corpus(
            docs.drop("blob"), span_k=None, audio_gate={"min_rms": 0.01}
        )


def test_pipeline_audio_gate_from_config(spark, tmp_path):
    """The audio gate rides in the curate config like every other stage."""
    import json

    import numpy as np

    from xdump_spark.config import curate_from_config
    from xdump_spark.operators.audiocodec import encode_wav

    rate = 8000
    t = np.arange(rate, dtype=np.float64) / rate
    good = encode_wav((0.4 * np.sin(2 * np.pi * 220 * t))[:, None], rate)
    rows = [
        (1, "doc with good audio attached to it", bytearray(good)),
        (2, "doc with broken audio attached here", bytearray(b"junk")),
    ]
    src = str(tmp_path / "mixed.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, blob binary").write.parquet(src)
    cfg = {
        "input": src,
        "output": str(tmp_path / "out"),
        "span_k": None,
        "min_tokens": 1,
        "audio_gate": {"min_duration_s": 0.5},
    }
    cfg_path = tmp_path / "curate.json"
    cfg_path.write_text(json.dumps(cfg))
    res = curate_from_config(spark, str(cfg_path))
    assert {r.doc_id for r in res.corpus.collect()} == {1}
    assert res.audit["audio_gated"] == 1


def test_pipeline_exact_dedup_store_increments(spark, tmp_path):
    """doc_dedup='exact' + dedup_store: the second pipeline run drops
    every doc whose (normalized) text was accepted by the first run —
    the daily-crawl increment shape — and records its own survivors for
    the next run. Misconfiguration (store without exact mode) raises."""
    import uuid

    import pytest as _pytest

    from xdump_spark.operators.incremental import ExactHashStore
    from xdump_spark.pipeline import prepare_training_corpus

    name = f"seen_{uuid.uuid4().hex[:8]}"
    store = ExactHashStore(spark, name, n_buckets=4,
                           path=str(tmp_path / name))
    day1 = spark.createDataFrame(
        [
            (1, "articles about distributed query engines and shuffles"),
            (2, "articles about distributed query engines and shuffles"),
            (3, "a second subject concerning parquet footers and row groups"),
        ],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [
            # re-crawl of day1's text — must drop even under NEW ids
            (10, "Articles  about distributed query engines and SHUFFLES"),
            (11, "a second subject concerning parquet footers and row groups"),
            (12, "genuinely new content that only day two contains"),
        ],
        "doc_id long, text string",
    )
    try:
        r1 = prepare_training_corpus(
            day1, span_k=None, min_tokens=1, doc_dedup="exact",
            dedup_store=store,
        )
        assert {r.doc_id for r in r1.corpus.collect()} == {1, 3}
        assert r1.audit["doc_deduped"] == 2

        r2 = prepare_training_corpus(
            day2, span_k=None, min_tokens=1, doc_dedup="exact",
            dedup_store=store,
        )
        assert {r.doc_id for r in r2.corpus.collect()} == {12}
        assert r2.audit["doc_deduped"] == 1
        assert store.read().count() == 3  # two day-1 texts + one day-2

        with _pytest.raises(ValueError, match="dedup_store"):
            prepare_training_corpus(
                day2, span_k=None, doc_dedup="fuzzy", dedup_store=store
            )
        with _pytest.raises(ValueError, match="dedup_store"):
            prepare_training_corpus(day2, span_k=None, dedup_store=store)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pipeline_dedup_store_from_config(spark, tmp_path):
    """dedup_store rides the curate JSON config: two scheduled runs of
    the same config over different inputs behave as increments; bad
    store configs fail loudly at load time."""
    import json
    import uuid

    import pytest as _pytest

    from xdump_spark.config import curate_from_config

    name = f"seen_{uuid.uuid4().hex[:8]}"
    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    spark.createDataFrame(
        [(1, "first day content alpha"), (2, "first day content beta")],
        "doc_id long, text string",
    ).write.parquet(day1)
    spark.createDataFrame(
        [(10, "First  Day content ALPHA"), (11, "second day only gamma")],
        "doc_id long, text string",
    ).write.parquet(day2)

    def cfg_for(inp, out):
        return {
            "input": inp, "output": str(tmp_path / out),
            "span_k": None, "min_tokens": 1, "doc_dedup": "exact",
            "dedup_store": {"table": name, "path": str(tmp_path / name),
                            "n_buckets": 4},
        }

    try:
        p1 = tmp_path / "c1.json"
        p1.write_text(json.dumps(cfg_for(day1, "out1")))
        r1 = curate_from_config(spark, str(p1))
        assert {r.doc_id for r in r1.corpus.collect()} == {1, 2}

        p2 = tmp_path / "c2.json"
        p2.write_text(json.dumps(cfg_for(day2, "out2")))
        r2 = curate_from_config(spark, str(p2))
        assert {r.doc_id for r in r2.corpus.collect()} == {11}

        bad = cfg_for(day2, "out3")
        bad["dedup_store"] = {"tabel": name}
        p3 = tmp_path / "c3.json"
        p3.write_text(json.dumps(bad))
        with _pytest.raises(ValueError, match="dedup_store config"):
            curate_from_config(spark, str(p3))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pipeline_fuzzy_kwargs_reach_minhash(spark, tmp_path):
    """fuzzy_kwargs tunnels to minhash_lsh_pairs (the calibrated
    num_perm=128 scale setting) through pipeline AND config."""
    import json

    from xdump_spark.config import curate_from_config
    from xdump_spark.pipeline import prepare_training_corpus

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the sleepy dog tonight"),
        (3, "completely different text about apples oranges and pears"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, doc_dedup="fuzzy",
        fuzzy_threshold=0.5, fuzzy_kwargs={"num_perm": 128, "bands": 32},
    )
    assert {r.doc_id for r in res.corpus.collect()} == {1, 3}

    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    cfg = {
        "input": src, "output": str(tmp_path / "out"),
        "span_k": None, "min_tokens": 1, "doc_dedup": "fuzzy",
        "fuzzy_threshold": 0.5,
        "fuzzy_kwargs": {"num_perm": 128, "bands": 32},
    }
    p = tmp_path / "c.json"
    p.write_text(json.dumps(cfg))
    res2 = curate_from_config(spark, str(p))
    assert {r.doc_id for r in res2.corpus.collect()} == {1, 3}


def test_pipeline_store_commit_deferred_until_sink(spark, tmp_path):
    """A run that fails at the sink must leave the ExactHashStore
    untouched so the retry accepts the same batch (no poisoning)."""
    import uuid

    import pytest as _pytest

    from xdump_spark.operators.incremental import ExactHashStore
    from xdump_spark.pipeline import prepare_training_corpus

    name = f"seen_{uuid.uuid4().hex[:8]}"
    store = ExactHashStore(spark, name, n_buckets=4,
                           path=str(tmp_path / name))
    docs = spark.createDataFrame(
        [(1, "day one alpha"), (2, "day one beta")], "doc_id long, text string"
    )
    out = str(tmp_path / "corpus")
    (tmp_path / "corpus").mkdir()          # occupied -> errorifexists fails
    (tmp_path / "corpus" / "x").write_text("occupied")
    try:
        with _pytest.raises(Exception):
            prepare_training_corpus(
                docs, span_k=None, min_tokens=1, doc_dedup="exact",
                dedup_store=store, out_dir=out, out_mode="errorifexists",
            )
        assert store.read() is None        # failed run recorded nothing

        res = prepare_training_corpus(    # retry succeeds, full batch
            docs, span_k=None, min_tokens=1, doc_dedup="exact",
            dedup_store=store, out_dir=out, out_mode="overwrite",
        )
        assert res.audit["doc_deduped"] == 2
        assert store.read().count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pipeline_fuzzy_kwargs_overlap_rejected(spark):
    import pytest as _pytest

    from xdump_spark.pipeline import prepare_training_corpus

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="fuzzy_kwargs"):
        prepare_training_corpus(
            docs, span_k=None, doc_dedup="fuzzy",
            fuzzy_kwargs={"threshold": 0.7},
        )


def test_pipeline_checkpoint_with_dedup_store(spark, tmp_path):
    """r7: checkpoint_dir COMPOSES with dedup_store. (a) A re-run of the
    same increment (resume after a crash that already committed) resumes
    the dedup stage and does NOT double-append. (b) A run whose store
    commit crashed is replayed by the resume from the checkpointed stage
    output — without recomputing the dedup. (c) The store after the
    checkpointed runs is hash-for-hash identical to an uninterrupted
    twin without checkpointing."""
    import uuid

    from xdump_spark.operators.incremental import ExactHashStore
    from xdump_spark.pipeline import prepare_training_corpus

    day1 = spark.createDataFrame(
        [(1, "articles about distributed query engines and shuffles"),
         (2, "articles about distributed query engines and shuffles"),
         (3, "a second subject concerning parquet footers and row groups")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(10, "Articles  about distributed query engines and SHUFFLES"),
         (11, "genuinely new content that only day two contains")],
        "doc_id long, text string",
    )
    kw = dict(span_k=None, min_tokens=1, doc_dedup="exact")
    names = [f"seen_{uuid.uuid4().hex[:8]}" for _ in range(2)]
    try:
        store = ExactHashStore(spark, names[0], n_buckets=4,
                               path=str(tmp_path / names[0]))

        # (b) first attempt: commit crashes AFTER the stage checkpointed
        real_append = store.append
        store.append = lambda *_a, **_k: (_ for _ in ()).throw(IOError("s3 flake"))
        import pytest as _pytest

        with _pytest.raises(IOError):
            prepare_training_corpus(
                day1, dedup_store=store,
                checkpoint_dir=str(tmp_path / "ck"), **kw,
            )
        store.append = real_append
        assert store.read() is None  # nothing committed

        # resume: dedup stage served from checkpoint, commit replayed
        r1 = prepare_training_corpus(
            day1, dedup_store=store, checkpoint_dir=str(tmp_path / "ck"), **kw,
        )
        assert "doc_deduped" in r1.resumed
        assert {r.doc_id for r in r1.corpus.collect()} == {1, 3}
        assert store.read().count() == 2

        # (a) re-run of the SAME increment: no double append
        r1b = prepare_training_corpus(
            day1, dedup_store=store, checkpoint_dir=str(tmp_path / "ck"), **kw,
        )
        assert "doc_deduped" in r1b.resumed
        assert store.read().count() == 2

        # new increment -> new fingerprint -> fresh compute + commit
        r2 = prepare_training_corpus(
            day2, dedup_store=store, checkpoint_dir=str(tmp_path / "ck"), **kw,
        )
        assert r2.resumed == []
        assert {r.doc_id for r in r2.corpus.collect()} == {11}
        assert store.read().count() == 3

        # (c) uninterrupted twin without checkpointing: identical hashes
        twin = ExactHashStore(spark, names[1], n_buckets=4,
                              path=str(tmp_path / names[1]))
        prepare_training_corpus(day1, dedup_store=twin, **kw)
        prepare_training_corpus(day2, dedup_store=twin, **kw)
        a = {(r.h1, r.h2) for r in store.read().collect()}
        b = {(r.h1, r.h2) for r in twin.read().collect()}
        assert a == b and len(a) == 3
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_pipeline_fuzzy_dedup_store_increments(spark, tmp_path):
    """r7: doc_dedup='fuzzy' + SignatureStore — near-dup increments vs
    persistent signature history, the fuzzy twin of the exact-store
    path. Day 2 drops docs NEAR (not byte-equal to) day-1 survivors;
    wrong store type raises."""
    import pytest as _pytest

    from xdump_spark.operators.incremental import (
        ExactHashStore,
        SignatureStore,
    )
    from xdump_spark.pipeline import prepare_training_corpus

    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    near = base.replace("jumps", "jumped")  # near-dup, not exact
    other = "completely different content about distributed query engines and shuffles"
    store = SignatureStore(spark, str(tmp_path / "sig"))
    kw = dict(span_k=None, min_tokens=1, doc_dedup="fuzzy",
              fuzzy_threshold=0.5, dedup_store=store)

    day1 = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    r1 = prepare_training_corpus(day1, **kw)
    assert {r.doc_id for r in r1.corpus.collect()} == {1, 3}

    day2 = spark.createDataFrame(
        [(10, near), (11, other + " almost"), (12, "genuinely new text about parquet row groups")],
        "doc_id long, text string",
    )
    r2 = prepare_training_corpus(day2, **kw)
    assert {r.doc_id for r in r2.corpus.collect()} == {12}

    # type dispatch: an ExactHashStore under fuzzy (and vice versa) raises
    wrong = ExactHashStore(spark, "nope_tbl")
    with _pytest.raises(ValueError, match="SignatureStore"):
        prepare_training_corpus(day2, **{**kw, "dedup_store": wrong})
    with _pytest.raises(ValueError, match="ExactHashStore"):
        prepare_training_corpus(
            day2, span_k=None, doc_dedup="exact", dedup_store=store
        )


def test_pipeline_fuzzy_store_checkpoint_resume(spark, tmp_path):
    """r7: checkpoint_dir × fuzzy SignatureStore: crashed commit replayed
    on resume (re-signed from the checkpointed stage output), re-run
    appends at most once, store decisions equal the uninterrupted twin."""
    import pytest as _pytest

    from xdump_spark.operators.incremental import SignatureStore
    from xdump_spark.pipeline import prepare_training_corpus

    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    other = "completely different content about distributed query engines and shuffles"
    day1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    day2 = spark.createDataFrame(
        [(10, base.replace("jumps", "jumped")), (11, "brand new unrelated text entirely")],
        "doc_id long, text string",
    )
    store = SignatureStore(spark, str(tmp_path / "sig"))
    kw = dict(span_k=None, min_tokens=1, doc_dedup="fuzzy",
              fuzzy_threshold=0.5, dedup_store=store,
              checkpoint_dir=str(tmp_path / "ck"))

    # crash the commit after the stage checkpointed
    real_append = store.append
    store.append = lambda *_a, **_k: (_ for _ in ()).throw(IOError("flake"))
    with _pytest.raises(IOError):
        prepare_training_corpus(day1, **kw)
    store.append = real_append
    assert store.read() is None

    r1 = prepare_training_corpus(day1, **kw)  # resume + commit replay
    assert "doc_deduped" in r1.resumed
    n1 = store.read().select("id").distinct().count()
    assert n1 == 2
    prepare_training_corpus(day1, **kw)  # same increment: no double append
    assert store.read().select("id").distinct().count() == 2
    # file count also unchanged (the mark skipped the append entirely)
    r2 = prepare_training_corpus(day2, **kw)
    assert {r.doc_id for r in r2.corpus.collect()} == {11}

    # uninterrupted twin agrees on every decision
    twin = SignatureStore(spark, str(tmp_path / "sig2"))
    kw2 = dict(span_k=None, min_tokens=1, doc_dedup="fuzzy",
               fuzzy_threshold=0.5, dedup_store=twin)
    a1 = prepare_training_corpus(day1, **kw2)
    a2 = prepare_training_corpus(day2, **kw2)
    assert {r.doc_id for r in a1.corpus.collect()} == {1, 2}
    assert {r.doc_id for r in a2.corpus.collect()} == {11}
    assert sorted(
        r.id for r in store.read().select("id").distinct().collect()
    ) == sorted(r.id for r in twin.read().select("id").distinct().collect())


def test_pipeline_neardup_store_from_config(spark, tmp_path):
    """r7: the fuzzy SignatureStore rides the curate config as
    {"dedup_store": {"path": ...}} under doc_dedup='fuzzy'; key
    validation fails loudly."""
    import json

    import pytest as _pytest

    from xdump_spark.config import curate_from_config

    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    spark.createDataFrame(
        [(1, base), (2, "totally different text about parquet and shuffles")],
        "doc_id long, text string",
    ).write.parquet(day1)
    spark.createDataFrame(
        [(10, base.replace("jumps", "jumped")), (11, "new day-two-only content here")],
        "doc_id long, text string",
    ).write.parquet(day2)

    def cfg_for(inp, out):
        return {
            "input": inp, "output": str(tmp_path / out),
            "span_k": None, "min_tokens": 1, "doc_dedup": "fuzzy",
            "fuzzy_threshold": 0.5,
            "dedup_store": {"path": str(tmp_path / "sigstore")},
        }

    c1 = tmp_path / "c1.json"
    c1.write_text(json.dumps(cfg_for(day1, "out1")))
    r1 = curate_from_config(spark, str(c1))
    assert {r.doc_id for r in r1.corpus.collect()} == {1, 2}

    c2 = tmp_path / "c2.json"
    c2.write_text(json.dumps(cfg_for(day2, "out2")))
    r2 = curate_from_config(spark, str(c2))
    assert {r.doc_id for r in r2.corpus.collect()} == {11}

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({
        "input": day1, "output": str(tmp_path / "out3"),
        "doc_dedup": "fuzzy",
        "dedup_store": {"table": "wrong_key_for_fuzzy"},
    }))
    with _pytest.raises(ValueError, match="path"):
        curate_from_config(spark, str(bad))


def test_pipeline_chunk_output(spark, tmp_path):
    """r7: chunk_budget emits res.chunks (the RAG/embedding output)
    alongside the corpus, coexisting with pack_budget; config carries
    chunk keys + chunks_out sink; validation raises on bad chunk_by and
    on overlap under sentence mode."""
    import json

    import pytest as _pytest

    from xdump_spark.config import curate_from_config
    from xdump_spark.pipeline import prepare_training_corpus

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten"),
         (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    res = prepare_training_corpus(
        docs, span_k=None, min_tokens=1,
        chunk_budget=4, chunk_overlap=1, pack_budget=16,
    )
    assert res.chunks is not None and res.sequences is not None
    got = {(r.doc_id, r.chunk_idx): r.n_tokens for r in res.chunks.collect()}
    assert got[(1, 0)] == 4 and (1, 2) in got and got[(2, 0)] == 4

    sent = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, chunk_budget=6, chunk_by="sentences",
    )
    assert sent.chunks.count() >= 2
    with _pytest.raises(ValueError, match="chunk_by"):
        prepare_training_corpus(docs, span_k=None, chunk_budget=4, chunk_by="x")
    with _pytest.raises(ValueError, match="chunk_overlap"):
        prepare_training_corpus(
            docs, span_k=None, chunk_budget=4, chunk_by="sentences",
            chunk_overlap=2,
        )

    inp = str(tmp_path / "in.parquet")
    docs.write.parquet(inp)
    cfg = tmp_path / "c.json"
    cfg.write_text(json.dumps({
        "input": inp, "output": str(tmp_path / "out"),
        "span_k": None, "min_tokens": 1,
        "chunk_budget": 4, "chunk_overlap": 1,
        "chunks_out": str(tmp_path / "chunks"),
    }))
    r = curate_from_config(spark, str(cfg))
    assert r.chunks is not None
    back = spark.read.parquet(str(tmp_path / "chunks"))
    assert back.count() == r.chunks.count() > 0


def test_pipeline_splits_deterministic_and_written(spark, docs, tmp_path):
    """r7 verdict #6 e2e: hash_split exposed as a pipeline stage —
    disjoint/exhaustive on real testdata, membership stable across a
    re-run with a DIFFERENT partitioning, one output dir per split, and
    packing reads only the first-named (train) split."""
    out = str(tmp_path / "corpus")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    res = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, splits=fr, split_seed=7,
        pack_budget=256, out_dir=out,
    )
    ids = {
        name: {r["doc_id"] for r in f.select("doc_id").collect()}
        for name, f in res.splits.items()
    }
    all_ids = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    # disjoint + exhaustive
    assert set(ids) == set(fr)
    assert ids["train"] | ids["val"] | ids["test"] == all_ids
    assert not (ids["train"] & ids["val"]) and not (ids["val"] & ids["test"])
    assert not (ids["train"] & ids["test"])
    assert res.audit["split_train"] == len(ids["train"]) > 0
    # re-run under a different partitioning: identical membership
    res2 = prepare_training_corpus(
        docs.repartition(13), span_k=None, min_tokens=1, splits=fr,
        split_seed=7, audit=False,
    )
    ids2 = {
        name: {r["doc_id"] for r in f.select("doc_id").collect()}
        for name, f in res2.splits.items()
    }
    assert ids2 == ids
    # a different seed moves documents
    res3 = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, splits=fr, split_seed=8,
        audit=False,
    )
    assert {r["doc_id"] for r in res3.splits["val"].collect()} != ids["val"]
    # the sink wrote one sub-directory per split with exactly its docs
    for name in fr:
        got = {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/{name}").collect()
        }
        assert got == ids[name], name
    # packs draw from the train split only (no val/test leakage)
    packed = {
        d
        for r in res.sequences.select("doc_ids").collect()
        for d in r["doc_ids"]
    }
    assert packed <= ids["train"]


def test_sft_splits_and_cli(spark, tmp_path):
    """prepare_sft_corpus splits + the curate/prepare-sft --splits flag."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.sft import prepare_sft_corpus

    convs = spark.createDataFrame(
        [(i, [{"role": "user", "content": f"question {i}"},
              {"role": "assistant", "content": f"answer {i}"}])
         for i in range(40)],
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    res = prepare_sft_corpus(convs, splits={"train": 0.75, "val": 0.25})
    tr = {r["conv_id"] for r in res.splits["train"].collect()}
    va = {r["conv_id"] for r in res.splits["val"].collect()}
    assert tr and va and not (tr & va) and len(tr | va) == 40
    assert res.audit["split_train"] == len(tr)

    # CLI: prepare-sft --splits writes one subdir per split
    src = tmp_path / "convs.jsonl"
    with open(src, "w") as fh:
        for i in range(40):
            fh.write(json.dumps({
                "conv_id": i, "source": "t",
                "messages": [{"role": "user", "content": f"question {i}"},
                             {"role": "assistant", "content": f"answer {i}"}],
            }) + "\n")
    out = str(tmp_path / "sft_out")
    args = cli.build_parser().parse_args([
        "prepare-sft", "-i", str(src), "-o", out,
        "--splits", "train=0.75,val=0.25",
    ])
    assert cli.run(args, spark) == 0
    got_tr = {r["conv_id"] for r in spark.read.parquet(f"{out}/train").collect()}
    got_va = {r["conv_id"] for r in spark.read.parquet(f"{out}/val").collect()}
    assert got_tr == tr and got_va == va  # same split function, same seed

    # bad fractions are a usage error
    with pytest.raises(SystemExit):
        cli.build_parser().parse_args(
            ["prepare-sft", "-i", "x", "-o", "y", "--splits", "train=0.5"]
        )


def _emb_rows(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )


def test_pipeline_semantic_dedup_oneshot(spark):
    """r8: doc_dedup='semantic' — SemDeDup over a caller-supplied
    embedding column as a pipeline stage; missing column and wrong
    store types fail loudly."""
    import pytest as _pytest

    from xdump_spark.operators.incremental import ExactHashStore, VectorStore
    from xdump_spark.pipeline import prepare_training_corpus

    docs = _emb_rows(spark, [
        (1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
        (2, "its semantic twin reworded", [0.98, 0.02, 0.0, 0.0]),
        (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0]),
    ])
    r = prepare_training_corpus(
        docs, span_k=None, min_tokens=1, doc_dedup="semantic",
        semantic_kwargs={"n_cells": 2, "keep": "min_id"},
    )
    assert {x.doc_id for x in r.corpus.collect()} == {1, 3}
    # survivors keep their full row (text AND embedding; the standard
    # PII-audit columns ride along as in every pipeline run)
    assert {"doc_id", "text", "embedding"} <= set(r.corpus.columns)

    with _pytest.raises(ValueError, match="embedding"):
        prepare_training_corpus(
            docs.drop("embedding"), span_k=None, min_tokens=1,
            doc_dedup="semantic",
        )
    with _pytest.raises(ValueError, match="semantic_kwargs"):
        prepare_training_corpus(
            docs, span_k=None, doc_dedup="semantic",
            semantic_kwargs={"threshold": 0.9},
        )
    with _pytest.raises(ValueError, match="VectorStore"):
        prepare_training_corpus(
            docs, span_k=None, doc_dedup="semantic",
            dedup_store=ExactHashStore(spark, "nope_tbl"),
        )
    with _pytest.raises(ValueError, match="ExactHashStore"):
        prepare_training_corpus(
            docs, span_k=None, doc_dedup="exact",
            dedup_store=VectorStore(spark, "/tmp/nope_vs"),
        )


def test_pipeline_vector_store_checkpoint_resume(spark, tmp_path):
    """r7 verdict #7 (VectorStore parametrization): checkpoint_dir ×
    doc_dedup='semantic' × VectorStore — crashed commit replayed on
    resume (survivors re-assigned against the FROZEN centroids from the
    checkpointed stage output), re-run appends at most once, accepted
    sets equal the uninterrupted twin's."""
    import pytest as _pytest

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import prepare_training_corpus

    def day1(s):
        return _emb_rows(s, [
            (1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
            (2, "its semantic twin reworded", [0.98, 0.02, 0.0, 0.0]),
            (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0]),
        ])

    def day2(s):
        return _emb_rows(s, [
            (10, "day two near-dup of doc one", [0.99, 0.01, 0.0, 0.0]),
            (11, "a genuinely new direction", [0.0, 0.0, 1.0, 0.0]),
        ])

    store = VectorStore(spark, str(tmp_path / "vs"))
    kw = dict(span_k=None, min_tokens=1, doc_dedup="semantic",
              dedup_store=store, semantic_kwargs={"n_cells": 2},
              checkpoint_dir=str(tmp_path / "ck"))

    # crash the commit AFTER the stage checkpointed
    real_append = store.append_assigned
    store.append_assigned = (
        lambda *_a, **_k: (_ for _ in ()).throw(IOError("s3 flake"))
    )
    with _pytest.raises(IOError):
        prepare_training_corpus(day1(spark), **kw)
    store.append_assigned = real_append
    assert store.stats()["rows"] == 0  # meta shell only, nothing committed

    # resume: dedup served from checkpoint, commit replayed via
    # frozen-centroid re-assignment of the checkpointed survivors
    r1 = prepare_training_corpus(day1(spark), **kw)
    assert "doc_deduped" in r1.resumed
    assert {x.doc_id for x in r1.corpus.collect()} == {1, 3}
    assert store.stats()["rows"] == 2

    # re-run of the SAME increment: no double append
    prepare_training_corpus(day1(spark), **kw)
    assert store.stats()["rows"] == 2

    # new increment: near-stored doc dropped, new direction accepted
    r2 = prepare_training_corpus(day2(spark), **kw)
    assert r2.resumed == []
    assert {x.doc_id for x in r2.corpus.collect()} == {11}
    assert store.stats()["rows"] == 3

    # uninterrupted twin without checkpointing agrees on every decision
    twin = VectorStore(spark, str(tmp_path / "vs2"))
    kw2 = dict(span_k=None, min_tokens=1, doc_dedup="semantic",
               dedup_store=twin, semantic_kwargs={"n_cells": 2})
    a1 = prepare_training_corpus(day1(spark), **kw2)
    a2 = prepare_training_corpus(day2(spark), **kw2)
    assert {x.doc_id for x in a1.corpus.collect()} == {1, 3}
    assert {x.doc_id for x in a2.corpus.collect()} == {11}
    ids = lambda s: sorted(
        r.neighbor_id for r in s.index().assigned.select("neighbor_id").collect()
    )
    assert ids(store) == ids(twin) == [1, 3, 11]


def test_pipeline_vector_store_from_config_and_cli(spark, tmp_path):
    """r8: the semantic VectorStore rides the curate config as
    {"dedup_store": {"path": ...}} under doc_dedup='semantic' and the
    CLI as --doc-dedup semantic --vector-store."""
    import json

    import pytest as _pytest

    from xdump_spark import cli
    from xdump_spark.config import curate_from_config

    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    _emb_rows(spark, [
        (1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
        (2, "its semantic twin reworded", [0.98, 0.02, 0.0, 0.0]),
        (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0]),
    ]).write.parquet(day1)
    _emb_rows(spark, [
        (10, "day two near-dup of doc one", [0.99, 0.01, 0.0, 0.0]),
        (11, "a genuinely new direction", [0.0, 0.0, 1.0, 0.0]),
    ]).write.parquet(day2)

    c1 = tmp_path / "c1.json"
    c1.write_text(json.dumps({
        "input": day1, "output": str(tmp_path / "out1"),
        "span_k": None, "min_tokens": 1, "doc_dedup": "semantic",
        "semantic_kwargs": {"n_cells": 2},
        "dedup_store": {"path": str(tmp_path / "vstore")},
    }))
    r1 = curate_from_config(spark, str(c1))
    assert {r.doc_id for r in r1.corpus.collect()} == {1, 3}

    # day 2 through the CLI front door against the SAME store
    out2 = str(tmp_path / "out2")
    args = cli.build_parser().parse_args([
        "curate", "-i", day2, "-o", out2, "--span-k", "0",
        "--min-tokens", "1", "--doc-dedup", "semantic",
        "--vector-store", str(tmp_path / "vstore"),
    ])
    assert cli.run(args, spark) == 0
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} == {11}

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({
        "input": day1, "output": str(tmp_path / "out3"),
        "doc_dedup": "semantic",
        "dedup_store": {"path": "x", "table": "y"},
    }))
    with _pytest.raises(ValueError, match="semantic"):
        curate_from_config(spark, str(bad))


def test_curate_embeddings_join_cli(spark, tmp_path):
    """r8: curate --embeddings attaches the embedding table by id so
    --doc-dedup semantic works from the shell without a pre-join; docs
    without a vector are dropped (inner join)."""
    from xdump_spark import cli

    docs = str(tmp_path / "docs.parquet")
    emb = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(1, "first document about engines"),
         (2, "its semantic twin reworded"),
         (3, "an unrelated subject entirely"),
         (4, "this doc has no embedding row")],
        "doc_id long, text string",
    ).write.parquet(docs)
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.98, 0.02, 0.0, 0.0]),
         (3, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).write.parquet(emb)
    out = str(tmp_path / "out")
    args = cli.build_parser().parse_args([
        "curate", "-i", docs, "-o", out, "--span-k", "0",
        "--min-tokens", "1", "--doc-dedup", "semantic",
        "--semantic-cells", "2", "--embeddings", emb,
    ])
    assert cli.run(args, spark) == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    # exactly one of the semantic twins survives (the default keep rule
    # is the paper's low_centroid_sim, not min-id), 3 is its own group,
    # 4 had no vector (inner join)
    assert len(got & {1, 2}) == 1 and 3 in got and 4 not in got
    assert len(got) == 2

    # same join via the config front door ({"embeddings": {"path": ...}})
    import json

    import pytest as _pytest

    from xdump_spark.config import curate_from_config

    cfgp = tmp_path / "cfg.json"
    cfgp.write_text(json.dumps({
        "input": docs, "output": str(tmp_path / "out_cfg"),
        "span_k": None, "min_tokens": 1, "doc_dedup": "semantic",
        "semantic_kwargs": {"n_cells": 2},
        "embeddings": {"path": emb},
    }))
    r = curate_from_config(spark, str(cfgp))
    got_cfg = {x.doc_id for x in r.corpus.collect()}
    assert got_cfg == got  # same fixture, same geometry, same survivors

    bad = tmp_path / "bad_emb.json"
    bad.write_text(json.dumps({
        "input": docs, "output": "y", "doc_dedup": "semantic",
        "embeddings": {"path": emb, "vec_col": "nope"},
    }))
    with _pytest.raises(ValueError, match="embeddings config"):
        curate_from_config(spark, str(bad))

    # embeddings without semantic dedup is a loud error (the inner join
    # would silently shrink the corpus otherwise)
    bad2 = tmp_path / "bad_emb2.json"
    bad2.write_text(json.dumps({
        "input": docs, "output": "y", "doc_dedup": "exact",
        "embeddings": {"path": emb},
    }))
    with _pytest.raises(ValueError, match="semantic"):
        curate_from_config(spark, str(bad2))


def test_prepare_pairs_splits(spark, tmp_path):
    """r8: prepare_preference_corpus splits + prepare-pairs --splits."""
    import json

    from xdump_spark import cli
    from xdump_spark.operators.preference import prepare_preference_corpus

    pairs = spark.createDataFrame(
        [(i, [{"role": "user", "content": f"question {i}"}],
          f"good answer {i}", f"bad answer {i}")
         for i in range(40)],
        "pair_id long, prompt array<struct<role:string,content:string>>, "
        "chosen string, rejected string",
    )
    res = prepare_preference_corpus(
        pairs, splits={"train": 0.75, "val": 0.25}, audit=False,
        length_bias=False,
    )
    tr = {r["pair_id"] for r in res.splits["train"].collect()}
    va = {r["pair_id"] for r in res.splits["val"].collect()}
    assert tr and va and not (tr & va) and len(tr | va) == 40

    src = tmp_path / "pairs.jsonl"
    with open(src, "w") as fh:
        for i in range(40):
            fh.write(json.dumps({
                "pair_id": i,
                "prompt": [{"role": "user", "content": f"question {i}"}],
                "chosen": f"good answer {i}", "rejected": f"bad answer {i}",
            }) + "\n")
    out = str(tmp_path / "pairs_out")
    args = cli.build_parser().parse_args([
        "prepare-pairs", "-i", str(src), "-o", out,
        "--splits", "train=0.75,val=0.25",
    ])
    assert cli.run(args, spark) == 0
    got_tr = {r["pair_id"] for r in spark.read.parquet(f"{out}/train").collect()}
    got_va = {r["pair_id"] for r in spark.read.parquet(f"{out}/val").collect()}
    assert got_tr == tr and got_va == va


def test_pipeline_pq_vector_store_from_config_and_cli(spark, tmp_path):
    """r10: {"dedup_store": {"path": ..., "dtype": "pq"}} creates a
    product-quantized store through the curate config; day 2 through
    the CLI front door (default dtype — the meta wins) dedups against
    the committed CODES."""
    import json

    from xdump_spark import cli
    from xdump_spark.config import curate_from_config

    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    _emb_rows(spark, [
        (1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
        (2, "its semantic twin reworded", [0.98, 0.02, 0.0, 0.0]),
        (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0]),
    ]).write.parquet(day1)
    _emb_rows(spark, [
        (10, "day two re-send of doc one", [1.0, 0.0, 0.0, 0.0]),
        (11, "a genuinely new direction", [0.0, 0.0, 1.0, 0.0]),
    ]).write.parquet(day2)

    c1 = tmp_path / "c1.json"
    c1.write_text(json.dumps({
        "input": day1, "output": str(tmp_path / "out1"),
        "span_k": None, "min_tokens": 1, "doc_dedup": "semantic",
        "semantic_kwargs": {"n_cells": 2},
        "dedup_store": {"path": str(tmp_path / "vstore"), "dtype": "pq"},
    }))
    r1 = curate_from_config(spark, str(c1))
    assert {r.doc_id for r in r1.corpus.collect()} == {1, 3}
    raw = spark.read.parquet(str(tmp_path / "vstore") + "/assigned")
    assert dict(raw.dtypes)["codes"] == "array<smallint>"

    out2 = str(tmp_path / "out2")
    args = cli.build_parser().parse_args([
        "curate", "-i", day2, "-o", out2, "--span-k", "0",
        "--min-tokens", "1", "--doc-dedup", "semantic",
        "--vector-store", str(tmp_path / "vstore"),
    ])
    assert cli.run(args, spark) == 0
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} == {11}


def test_pipeline_exact_guard_from_config_and_cli(spark, tmp_path):
    """r11: {"dedup_store": {..., "exact_guard": true}} reaches the
    ctor through the curate config (meta records it), and the CLI
    --exact-guard flag does the same through the curate front door;
    an unknown config key still fails fast."""
    import json

    import pytest as _pytest

    from xdump_spark import cli
    from xdump_spark.config import curate_from_config
    from xdump_spark.operators.incremental import VectorStore

    day1 = str(tmp_path / "day1.parquet")
    _emb_rows(spark, [
        (1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
        (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0]),
    ]).write.parquet(day1)

    c1 = tmp_path / "c1.json"
    c1.write_text(json.dumps({
        "input": day1, "output": str(tmp_path / "out1"),
        "span_k": None, "min_tokens": 1, "doc_dedup": "semantic",
        "semantic_kwargs": {"n_cells": 2},
        "dedup_store": {"path": str(tmp_path / "vs_cfg"), "dtype": "pq",
                        "exact_guard": True},
    }))
    curate_from_config(spark, str(c1))
    assert VectorStore(spark, str(tmp_path / "vs_cfg")).guard_enabled() is True

    args = cli.build_parser().parse_args([
        "curate", "-i", day1, "-o", str(tmp_path / "out2"), "--span-k", "0",
        "--min-tokens", "1", "--doc-dedup", "semantic",
        "--vector-store", str(tmp_path / "vs_cli"), "--exact-guard",
    ])
    assert cli.run(args, spark) == 0
    assert VectorStore(spark, str(tmp_path / "vs_cli")).guard_enabled() is True

    c2 = tmp_path / "c2.json"
    c2.write_text(json.dumps({
        "input": day1, "output": str(tmp_path / "out3"),
        "span_k": None, "min_tokens": 1, "doc_dedup": "semantic",
        "dedup_store": {"path": str(tmp_path / "vs_bad"),
                        "exact_gaurd": True},  # typo'd key must fail
    }))
    with _pytest.raises(ValueError, match="dedup_store"):
        curate_from_config(spark, str(c2))


def test_pipeline_pq_store_checkpoint_resume(spark, tmp_path):
    """r10 interaction: checkpoint_dir × doc_dedup='semantic' × a PQ
    store — the crashed-commit replay re-assigns the checkpointed
    survivors and the encode path recomputes their exact-vector hashes
    from the raw vectors, so a later byte-identical re-send still
    rejects through the vh channel."""
    import pytest as _pytest

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import prepare_training_corpus

    def day1(s):
        return _emb_rows(s, [
            (1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
            (2, "its semantic twin reworded", [0.98, 0.02, 0.0, 0.0]),
            (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0]),
        ])

    store = VectorStore(spark, str(tmp_path / "vs"), dtype="pq", pq_m=2)
    kw = dict(span_k=None, min_tokens=1, doc_dedup="semantic",
              dedup_store=store, semantic_kwargs={"n_cells": 2},
              checkpoint_dir=str(tmp_path / "ck"))

    real_append = store.append_assigned
    store.append_assigned = (
        lambda *_a, **_k: (_ for _ in ()).throw(IOError("s3 flake"))
    )
    with _pytest.raises(IOError):
        prepare_training_corpus(day1(spark), **kw)
    store.append_assigned = real_append
    assert store.stats()["rows"] == 0  # meta shell only

    r1 = prepare_training_corpus(day1(spark), **kw)
    assert "doc_deduped" in r1.resumed
    assert {x.doc_id for x in r1.corpus.collect()} == {1, 3}
    st = store.stats()
    assert st["rows"] == 2 and st["dtype"] == "pq"
    # the replayed append stored codes + the ORIGINAL exact hashes:
    # a byte-identical re-send rejects at est 1.0
    day2 = _emb_rows(spark, [
        (10, "re-send of doc one", [1.0, 0.0, 0.0, 0.0]),
    ])
    r2 = prepare_training_corpus(
        day2, span_k=None, min_tokens=1, doc_dedup="semantic",
        dedup_store=store, semantic_kwargs={"n_cells": 2},
    )
    assert r2.corpus.count() == 0


def test_prepare_rag_corpus_two_days(spark, tmp_path):
    """r11 retrieval front door: chunk → hash-embed → semantic store
    increment → survivors written + indexed. Day 2 re-sends day 1's
    docs (chunks must all reject — NOTHING re-indexed) plus one new
    doc (its chunks become one new committed segment); bm25 over the
    final index equals a fresh build over exactly the accepted
    chunks; the content-keyed batch id makes a replayed index append a
    no-op."""
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import (
        append_text_index,
        bm25_topk,
        build_text_index,
        load_text_index,
    )
    from xdump_spark.pipeline import prepare_rag_corpus

    body1 = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    body2 = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(40))
    body3 = " ".join(f"eta{i} theta{i} iota{i}" for i in range(40))
    day1 = spark.createDataFrame(
        [(1, body1), (2, body2)], "doc_id long, text string"
    )
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")

    r1 = prepare_rag_corpus(
        day1, store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2,
    )
    assert r1.audit["docs"] == 2
    assert r1.audit["chunks"] > 2  # 120 tokens / stride 24 → 5 per doc
    assert r1.audit["accepted_chunks"] == r1.audit["chunks"]
    assert r1.index_entry is not None
    assert load_text_index(spark, idx_dir).n_docs == r1.audit["chunks"]

    # day 2: doc 1+2 byte-identical re-sends under NEW doc ids would
    # chunk to the same text but different chunk_ids — semantic dedup
    # rejects them against the stored history; doc 3 is novel
    day2 = spark.createDataFrame(
        [(10, body1), (20, body2), (3, body3)], "doc_id long, text string"
    )
    r2 = prepare_rag_corpus(
        day2, store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2,
    )
    per_doc = r1.audit["chunks"] // 2
    assert r2.audit["accepted_chunks"] == per_doc  # only doc 3's chunks
    total = r1.audit["chunks"] + per_doc
    loaded = load_text_index(spark, idx_dir)
    assert loaded.n_docs == total

    # the index answers exactly as a fresh build over the accepted set
    all_chunks = spark.read.parquet(out)
    assert all_chunks.count() == total
    queries = spark.createDataFrame(
        [(0, "alpha3 beta3"), (1, "eta7 theta7")],
        "query_id int, query string",
    )
    want = sorted(
        (r.query_id, r.chunk_id, r.score, r.rnk)
        for r in bm25_topk(
            build_text_index(all_chunks, id_col="chunk_id"), queries, k=3
        ).collect()
    )
    got = sorted(
        (r.query_id, r.chunk_id, r.score, r.rnk)
        for r in bm25_topk(loaded, queries, k=3).collect()
    )
    assert got == want

    # replayed append with the committed content key: no-op
    bid = r2.index_entry["batch_id"]
    append_text_index(spark, idx_dir, r2.chunks, batch_id=bid)
    assert load_text_index(spark, idx_dir).n_docs == total

    # full re-send day: zero survivors, index untouched, entry None
    r3 = prepare_rag_corpus(
        day1, store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2,
    )
    assert r3.audit["accepted_chunks"] == 0 and r3.index_entry is None
    assert load_text_index(spark, idx_dir).n_docs == total

    # advanced-path guidance
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_embed_dim"):
        prepare_rag_corpus(day1, store, idx_dir, hash_embed_dim=None)


def test_streaming_rag_ingest_one_daemon_chain(spark, tmp_path):
    """r11 verdict Next #1: the one-daemon streaming RAG chain. A
    parquet drop streams through chunk → embed → store increment →
    survivors → index append under ONE checkpoint; a drop's novel
    chunks become searchable (BM25 over the index AND ANN over the
    store); a kill-and-redeliver in the worst crash window (index
    segment committed, store commit lost) converges to exactly-once
    for the index; a full re-send day adds ZERO index segments."""
    from unittest.mock import patch

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import (
        bm25_topk,
        load_text_index,
    )
    import xdump_spark.operators.retrieval as R
    from xdump_spark.pipeline import streaming_rag_ingest

    inp = tmp_path / "drops"
    inp.mkdir()
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")

    body1 = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    body2 = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(40))
    spark.createDataFrame(
        [(1, body1), (2, body2)], "doc_id long, text string"
    ).write.parquet(str(inp / "day1"))

    def drain():
        q = streaming_rag_ingest(
            spark, str(inp) + "/*", store, idx_dir, ckpt, out_dir=out,
            max_tokens=32, overlap=8, hash_embed_dim=64,
            threshold=0.9, n_cells=2,
        )
        q.awaitTermination()

    drain()
    idx = load_text_index(spark, idx_dir)
    n_day1 = idx.n_docs
    assert n_day1 > 2  # chunked
    assert spark.read.parquet(out).count() == n_day1
    # r13: the daemon writes the survivor corpus through the bucketed
    # layout too — meta sidecar committed, every file under a bucket
    # dir, so forget_rag_docs prunes streaming-built corpora as well
    from xdump_spark import fsutil as _fsutil
    from xdump_spark.pipeline import _CORPUS_META, _corpus_layout

    assert _fsutil.exists_atomic(
        spark, _fsutil.join(out, _CORPUS_META)
    )
    assert _corpus_layout(spark, out) == {
        "kind": "bucketed", "n_buckets": 64, "bucket_by": "doc_id",
    }
    assert all(
        "/_bucket=" in f for f, _ in _fsutil.list_data_files(spark, out)
    )
    # searchable through BOTH retrievers with the same composite ids
    queries = spark.createDataFrame([(0, "alpha3 beta3")],
                                    "query_id int, query string")
    hits = bm25_topk(idx, queries, k=3).collect()
    assert hits and all(h.chunk_id.startswith("1:") for h in hits)
    stored = {
        r["neighbor_id"]
        for r in spark.read.parquet(store._assigned_path())
        .select("neighbor_id").collect()
    }
    assert len(stored) == n_day1

    # day 2: one novel doc + one byte-identical re-send under a new id,
    # with a CRASH in the worst window — the index segment commits but
    # the store commit is lost (append_assigned dies once). Redelivery
    # must no-op the index append (content-keyed batch id) and then
    # land the store commit: exactly-once for the index.
    body3 = " ".join(f"eta{i} theta{i} iota{i}" for i in range(40))
    spark.createDataFrame(
        [(3, body3), (10, body1)], "doc_id long, text string"
    ).write.parquet(str(inp / "day2"))

    real_append = VectorStore.append_assigned
    state = {"boom": True}

    def flaky_append(self, assigned):
        if state["boom"]:
            state["boom"] = False
            raise RuntimeError("injected crash after index append")
        return real_append(self, assigned)

    with patch.object(VectorStore, "append_assigned", flaky_append):
        with pytest.raises(Exception, match="injected crash"):
            drain()
        segs_after_crash = len(
            R._read_manifest(spark, idx_dir)["segments"]
        )
        drain()  # redelivery from the same checkpoint
    idx2 = load_text_index(spark, idx_dir)
    per_doc = n_day1 // 2
    assert idx2.n_docs == n_day1 + per_doc  # doc 3 only, counted ONCE
    assert len(R._read_manifest(spark, idx_dir)["segments"]) == segs_after_crash
    # store committed on the redelivery
    stored2 = {
        r["neighbor_id"]
        for r in spark.read.parquet(store._assigned_path())
        .select("neighbor_id").collect()
    }
    assert len(stored2) == n_day1 + per_doc
    assert all(not i.startswith("10:") for i in stored2)  # re-send rejected

    # day 3: full re-send — zero new segments, zero new store rows
    spark.createDataFrame(
        [(20, body1), (30, body2), (40, body3)], "doc_id long, text string"
    ).write.parquet(str(inp / "day3"))
    segs_before = len(R._read_manifest(spark, idx_dir)["segments"])
    drain()
    assert len(R._read_manifest(spark, idx_dir)["segments"]) == segs_before
    assert load_text_index(spark, idx_dir).n_docs == n_day1 + per_doc


def test_forget_rag_docs_three_artifacts(spark, tmp_path):
    """r12: right-to-be-forgotten for the RAG chain as one call — the
    doc's chunks leave the vector store (its re-send is novel again),
    the BM25 index (answers hash-equal a fresh build over the retained
    chunks), and the survivor corpus; a doc that owned no chunks (a
    deduped re-send) is a documented no-op; a crash in the store→index
    window is completed by re-running (chunk ids derive from the UNION
    of store and index ids, not the store alone)."""
    from unittest.mock import patch

    import pytest as _pytest

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import (
        bm25_topk,
        build_text_index,
        load_text_index,
    )
    from xdump_spark.pipeline import forget_rag_docs, prepare_rag_corpus
    import xdump_spark.operators.retrieval as R

    body1 = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    body2 = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(40))
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")

    def ingest(rows):
        return prepare_rag_corpus(
            spark.createDataFrame(rows, "doc_id long, text string"),
            store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
            hash_embed_dim=64, threshold=0.9, n_cells=2,
        )

    # two separate drops so each committed index batch id is exactly
    # one doc's chunk-id xor — the forget-then-resend pin below needs
    # the re-sent doc's batch key to collide with a committed one
    r1a = ingest([(1, body1)])
    r1b = ingest([(2, body2)])
    n_all = r1a.audit["accepted_chunks"] + r1b.audit["accepted_chunks"]
    # a re-send day so doc 10 exists as a chunkless (all-rejected) doc
    ingest([(10, body1)])

    rpt = forget_rag_docs(spark, store, idx_dir, [1], corpus_dir=out)
    per_doc = n_all // 2
    assert rpt["docs_requested"] == 1
    assert rpt["store"]["deleted_rows"] == per_doc
    assert rpt["index"]["deleted_docs"] == per_doc
    assert rpt["corpus_rows_deleted"] == per_doc

    # corpus: only doc 2's chunks remain
    left = spark.read.parquet(out)
    assert left.count() == per_doc
    assert {r["doc_id"] for r in left.select("doc_id").collect()} == {2}

    # index: answers hash-equal a fresh build over the retained chunks
    queries = spark.createDataFrame(
        [(0, "alpha3 beta3"), (1, "delta3 epsilon3")],
        "query_id int, query string",
    )
    want = sorted(
        (r.query_id, r.chunk_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(
            build_text_index(left, id_col="chunk_id"), queries, k=3
        ).collect()
    )
    got = sorted(
        (r.query_id, r.chunk_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(
            load_text_index(spark, idx_dir), queries, k=3
        ).collect()
    )
    assert got == want

    # store: a re-send of the forgotten doc is NOVEL again
    r3 = ingest([(99, body1)])
    assert r3.audit["accepted_chunks"] == per_doc

    # chunkless re-send doc: forgetting it owns nothing (dedup
    # semantics — the content is forgotten by naming the canonical doc)
    rpt2 = forget_rag_docs(spark, store, idx_dir, [10], corpus_dir=out)
    assert rpt2["store"]["deleted_rows"] == 0
    assert rpt2["index"]["deleted_docs"] == 0

    # crash window: store delete lands, index delete crashes — the
    # re-run must still find doc 99's chunk ids (via the index side)
    with patch.object(
        R, "delete_text_index_docs",
        side_effect=RuntimeError("crash before index delete"),
    ):
        with _pytest.raises(RuntimeError, match="crash"):
            forget_rag_docs(spark, store, idx_dir, [99], corpus_dir=out)
    rpt3 = forget_rag_docs(spark, store, idx_dir, [99], corpus_dir=out)
    assert rpt3["index"]["deleted_docs"] == per_doc  # completed on re-run
    assert load_text_index(spark, idx_dir).n_docs == per_doc  # doc 2 only

    # forget-then-resend under the ORIGINAL id: doc 1's chunk-id set —
    # and therefore its pure content-keyed batch id — is identical to
    # the committed day-1 batch that retention carried forward; the
    # index's retention_epoch folded into the key makes the append
    # LAND instead of silently no-opping (the chain would otherwise
    # diverge: store and corpus hold the doc, BM25 never returns it)
    r4 = ingest([(1, body1)])
    assert r4.audit["accepted_chunks"] == per_doc
    idx_after = load_text_index(spark, idx_dir)
    assert idx_after.n_docs == 2 * per_doc
    back = bm25_topk(
        idx_after,
        spark.createDataFrame([(0, "alpha3 beta3")],
                              "query_id int, query string"),
        k=3,
    ).collect()
    assert back and all(r.chunk_id.startswith("1:") for r in back)


def test_forget_zero_term_docs_resend_noop_keeps_counts_exact(
    spark, tmp_path
):
    """ADVICE r12 low, investigated and pinned the OTHER way: forgetting
    a doc whose chunks carry no postings (punctuation-only text — a
    nonzero hash embedding, zero BM25 terms) must NOT bump the
    retention epoch. The index never removed those chunks (no postings
    to find; their n_docs stay — the documented zero-term caveat), so
    a byte-identical re-send no-opping against its committed content
    key is CORRECT: the chunks stay counted exactly ONCE, segments
    unchanged, and BM25 answers exactly as a fresh build over the
    logical corpus. An epoch bump would re-key the re-send, land it as
    a new segment, and double-count n_docs — the df/n_docs drift the
    epoch exists to prevent. (A termful forget still bumps — pinned in
    the three-artifacts test.)"""
    from pyspark.sql import functions as F

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import (
        bm25_topk,
        build_text_index,
        load_text_index,
    )
    from xdump_spark.pipeline import forget_rag_docs, prepare_rag_corpus
    import xdump_spark.operators.retrieval as R

    # whitespace tokens exist (hash-embeddable), no [a-z0-9] (no terms)
    punct = " ".join(["!!! ??? ;;; :::"] * 10)
    body2 = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(40))
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")

    def ingest(rows):
        return prepare_rag_corpus(
            spark.createDataFrame(rows, "doc_id long, text string"),
            store, idx_dir, max_tokens=32, overlap=8,
            hash_embed_dim=64, threshold=0.9, n_cells=2,
        )

    r1 = ingest([(1, punct)])   # its own batch: one committed key
    n1 = r1.audit["accepted_chunks"]
    assert n1 >= 1 and r1.index_entry is not None
    ingest([(2, body2)])
    n_total = load_text_index(spark, idx_dir).n_docs
    segs_before = len(R._read_manifest(spark, idx_dir)["segments"])

    # forget the zero-term doc: store rows leave, index zero-hit
    rpt = forget_rag_docs(spark, store, idx_dir, [1])
    assert rpt["store"]["deleted_rows"] == n1
    assert rpt["index"]["deleted_docs"] == 0
    man = R._read_manifest(spark, idx_dir)
    assert int(man.get("retention_epoch", 0)) == 0  # NOT bumped
    assert len(man["segments"]) == segs_before  # no merge-rewrite ran

    # byte-identical re-send: store re-accepts, index no-ops — chunks
    # counted exactly once, segment count unchanged
    r2 = ingest([(1, punct)])
    assert r2.audit["accepted_chunks"] == n1
    assert len(R._read_manifest(spark, idx_dir)["segments"]) == segs_before
    idx = load_text_index(spark, idx_dir)
    assert idx.n_docs == n_total  # no double count

    # BM25 equals a fresh build over the LOGICAL corpus (doc 1's
    # zero-term chunks + doc 2's chunks, each once): same n_docs prior
    fresh_docs = spark.createDataFrame(
        [(1, punct), (2, body2)], "doc_id long, text string"
    )
    from xdump_spark.operators.chunking import chunk_tokens

    fresh_chunks = chunk_tokens(
        fresh_docs, max_tokens=32, overlap=8,
        text_col="text", id_col="doc_id",
    ).select(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("chunk_idx")
        ).alias("chunk_id"),
        F.col("chunk_text").alias("text"),
    )
    queries = spark.createDataFrame(
        [(0, "delta3 epsilon3")], "query_id int, query string"
    )
    want = sorted(
        (r.query_id, r.chunk_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(
            build_text_index(fresh_chunks, id_col="chunk_id"),
            queries, k=3,
        ).collect()
    )
    got = sorted(
        (r.query_id, r.chunk_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(idx, queries, k=3).collect()
    )
    assert got == want


def test_forget_rag_corpus_bucket_pruning(spark, tmp_path):
    """r12 verdict Next #1/#5: the survivor corpus is bucketed by doc
    hash, and forget_rag_docs rewrites ONLY the buckets containing
    doomed docs — untouched buckets byte-identical by file listing
    (the test_retention.py pin style) — with the doomed count observed
    on the rewrite pass itself: the corpus step runs a bounded number
    of jobs and no separate counting scan."""
    from pyspark.sql import functions as F

    from xdump_spark import fsutil
    from xdump_spark.operators.incremental import (
        VectorStore,
        _as_id_frame,
        _delete_side,
    )
    from xdump_spark.pipeline import (
        _forget_corpus_rows,
        forget_rag_docs,
        prepare_rag_corpus,
    )

    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")

    def body(tag):
        return " ".join(f"{tag}{i} {tag}x{i} {tag}y{i}" for i in range(40))

    docs = [(i, body(f"v{i}q")) for i in range(1, 5)]
    r = prepare_rag_corpus(
        spark.createDataFrame(docs, "doc_id long, text string"),
        store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2, corpus_buckets=8,
    )
    per_doc = r.audit["accepted_chunks"] // 4

    # the bucket each doc hashes into, via the same spark expression
    bucket_of = {
        row.d: int(row.b)
        for row in spark.createDataFrame(
            [(str(i),) for i in (1, 2, 3, 4, 999)], ["d"]
        ).select(
            "d", F.pmod(F.xxhash64("d"), F.lit(8)).alias("b")
        ).collect()
    }
    doomed_bucket = bucket_of["1"]
    untouched_before = {
        (f, sz)
        for f, sz in fsutil.list_data_files(spark, out)
        if f"/_bucket={doomed_bucket}/" not in f
    }
    assert untouched_before  # ≥1 other bucket exists to prove pruning

    rpt = forget_rag_docs(spark, store, idx_dir, [1], corpus_dir=out)
    assert rpt["corpus_rows_deleted"] == per_doc
    # observability (r13 verdict Next #5): the report carries the
    # structural scale signals — one doomed bucket touched, and only
    # its files rewritten
    assert rpt["corpus"]["rows_deleted"] == per_doc
    assert rpt["corpus"]["buckets_touched"] == 1
    assert rpt["corpus"]["files_rewritten"] >= 1
    # untouched buckets: file set (path AND size) byte-identical
    untouched_after = {
        (f, sz)
        for f, sz in fsutil.list_data_files(spark, out)
        if f"/_bucket={doomed_bucket}/" not in f
    }
    assert untouched_after == untouched_before
    left = spark.read.parquet(out)
    assert left.count() == 3 * per_doc
    assert {r_["doc_id"] for r_ in left.select("doc_id").collect()} == {
        2, 3, 4,
    }

    # one-scan pin (r12 verdict Next #5): the doomed count is OBSERVED
    # on the rewrite pass itself — the corpus step may never run a
    # counting action (the pre-r13 shape was count-then-rewrite, two
    # full passes over the touched files), and its job total stays a
    # small constant (measured 6: parquet schema read, bucket collect,
    # broadcast build, AQE write stages — none a second data pass)
    from unittest.mock import patch

    from pyspark.sql import DataFrame as _DF

    doomed_side = _delete_side(
        _as_id_frame(spark, [2], "doc_id").select(
            F.col("doc_id").cast("string").alias("_doc")
        )
    )

    def _no_count(self):
        raise AssertionError(
            "corpus forget must not run a separate counting scan"
        )

    sc = spark.sparkContext
    sc.setJobGroup("forget-corpus-pin", "one-scan assertion")
    try:
        with patch.object(_DF, "count", _no_count):
            crpt = _forget_corpus_rows(spark, out, doomed_side, "doc_id")
    finally:
        sc.setJobGroup("", "")
    assert crpt["rows_deleted"] == per_doc
    jobs = sc.statusTracker().getJobIdsForGroup("forget-corpus-pin")
    assert 1 <= len(jobs) <= 8, jobs

    # forgetting a doc that never existed touches nothing outside its
    # own hash bucket: that bucket is read+rewritten only if it held
    # files, every other bucket stays byte-identical
    before_all = set(fsutil.list_data_files(spark, out))
    rpt2 = forget_rag_docs(spark, store, idx_dir, [999], corpus_dir=out)
    assert rpt2["corpus_rows_deleted"] == 0
    untouched = {
        (f, sz)
        for f, sz in before_all
        if f"/_bucket={bucket_of['999']}/" not in f
    }
    after_all = set(fsutil.list_data_files(spark, out))
    assert untouched <= after_all
    assert spark.read.parquet(out).count() == 2 * per_doc


def test_unmarked_rag_corpus_raises_and_compact_recovers(spark, tmp_path):
    """A survivor corpus with data files but no ``_corpus_meta.json``
    sidecar — bucket dirs whose sidecar was deleted, or root-level
    flat files — has an unknown layout: forget_rag_docs,
    prepare_rag_corpus and a plain compact refuse it without touching
    any artifact, and name the recovery. compact_rag_corpus(n_buckets=N)
    rewrites it into N doc-hash buckets with a fresh sidecar, after
    which forget prunes to the doomed doc's bucket."""
    from pyspark.sql import functions as F

    from xdump_spark import fsutil
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import (
        _CORPUS_META,
        _corpus_layout,
        compact_rag_corpus,
        forget_rag_docs,
        prepare_rag_corpus,
    )

    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")
    flat = str(tmp_path / "flat")

    def body(tag):
        return " ".join(f"{tag}{i} {tag}x{i} {tag}y{i}" for i in range(40))

    kw = dict(max_tokens=32, overlap=8, hash_embed_dim=64,
              threshold=0.9, n_cells=2)
    r = prepare_rag_corpus(
        spark.createDataFrame(
            [(i, body(f"v{i}q")) for i in range(1, 5)],
            "doc_id long, text string",
        ),
        store, idx_dir, out_dir=out, corpus_buckets=8, **kw,
    )
    per_doc = r.audit["accepted_chunks"] // 4
    cols = ["chunk_id", "doc_id", "text"]
    rows_before = sorted(
        tuple(row) for row in spark.read.parquet(out).select(*cols).collect()
    )
    spark.read.parquet(out).drop("_bucket").write.parquet(flat)
    fsutil.delete(spark, fsutil.join(out, _CORPUS_META), recursive=False)
    new_doc = spark.createDataFrame(
        [(9, body("newdoc"))], "doc_id long, text string"
    )

    recovery = r"compact_rag_corpus\(n_buckets=N\)"
    for corpus in (out, flat):
        files = set(fsutil.list_data_files(spark, corpus))
        with pytest.raises(ValueError, match=recovery):
            forget_rag_docs(spark, store, idx_dir, [1], corpus_dir=corpus)
        with pytest.raises(ValueError, match=recovery):
            prepare_rag_corpus(new_doc, store, idx_dir, out_dir=corpus, **kw)
        with pytest.raises(ValueError, match=recovery):
            compact_rag_corpus(spark, corpus)
        assert set(fsutil.list_data_files(spark, corpus)) == files
        assert _corpus_layout(spark, corpus) == {"kind": "unmarked"}

        rpt = compact_rag_corpus(spark, corpus, n_buckets=8)
        assert rpt["migration"] == {
            "files_migrated": len(files), "n_buckets": 8,
        }
        assert _corpus_layout(spark, corpus) == {
            "kind": "bucketed", "n_buckets": 8, "bucket_by": "doc_id",
        }
        assert sorted(
            tuple(row)
            for row in spark.read.parquet(corpus).select(*cols).collect()
        ) == rows_before
        assert spark.read.parquet(corpus).filter(
            F.col("_bucket")
            != F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(8))
        ).count() == 0

    # the refused calls touched nothing: the store and index still hold
    # doc 1, and the recovered corpus prunes the forget to its bucket
    doomed_bucket = int(
        spark.createDataFrame([("1",)], ["d"])
        .select(F.pmod(F.xxhash64("d"), F.lit(8)).alias("b"))
        .collect()[0]["b"]
    )
    for corpus in (out, flat):
        untouched = {
            (f, sz)
            for f, sz in fsutil.list_data_files(spark, corpus)
            if f"/_bucket={doomed_bucket}/" not in f
        }
        assert untouched
        frpt = forget_rag_docs(spark, store, idx_dir, [1], corpus_dir=corpus)
        assert frpt["corpus"]["rows_deleted"] == per_doc
        assert frpt["corpus"]["buckets_touched"] == 1
        assert {
            (f, sz)
            for f, sz in fsutil.list_data_files(spark, corpus)
            if f"/_bucket={doomed_bucket}/" not in f
        } == untouched
        if corpus == out:
            assert frpt["store"]["deleted_rows"] == per_doc
            assert frpt["index"]["deleted_docs"] == per_doc

    # the refused ingest committed nothing to the store: the doc is
    # still novel and lands in the recovered corpus's bucketed layout
    r2 = prepare_rag_corpus(new_doc, store, idx_dir, out_dir=out, **kw)
    assert r2.audit["accepted_chunks"] > 0
    assert all(
        "/_bucket=" in f for f, _ in fsutil.list_data_files(spark, out)
    )


def test_compact_rag_corpus_buckets(spark, tmp_path):
    """r13: per-bucket small-file compaction for the survivor corpus.
    Every increment appends ~one file per touched bucket (a year of
    daily drops = O(days) files per bucket); compact_rag_corpus
    coalesces each bucket dir through the store family's kernel — file
    count drops, the row multiset is unchanged, and forget still
    prunes afterwards."""
    from xdump_spark import fsutil
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import (
        compact_rag_corpus,
        forget_rag_docs,
        prepare_rag_corpus,
    )

    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")

    def body(tag):
        return " ".join(f"{tag}{i} {tag}x{i} {tag}y{i}" for i in range(40))

    # three increments over two buckets: each occupied bucket piles up
    # one file per increment that touches it
    for day in range(3):
        docs = [(day * 3 + i, body(f"d{day}i{i}q")) for i in range(3)]
        prepare_rag_corpus(
            spark.createDataFrame(docs, "doc_id long, text string"),
            store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
            hash_embed_dim=64, threshold=0.9, n_cells=2,
            corpus_buckets=2,
        )
    files_before = len(fsutil.list_data_files(spark, out))
    rows_before = sorted(
        (r.chunk_id, r.doc_id, r.text)
        for r in spark.read.parquet(out)
        .select("chunk_id", "doc_id", "text").collect()
    )
    assert files_before > 2  # piled up past one file per bucket

    rpt = compact_rag_corpus(spark, out)
    assert rpt["partitions_compacted"] >= 1
    assert rpt["files_after"] < files_before
    assert len(fsutil.list_data_files(spark, out)) == rpt["files_after"]
    rows_after = sorted(
        (r.chunk_id, r.doc_id, r.text)
        for r in spark.read.parquet(out)
        .select("chunk_id", "doc_id", "text").collect()
    )
    assert rows_after == rows_before

    # idempotent: already-compacted buckets are skipped
    rpt2 = compact_rag_corpus(spark, out)
    assert rpt2["partitions_compacted"] == 0
    assert rpt2["files_after"] == rpt["files_after"]

    # the compacted layout still prunes forgets
    per_doc = len(rows_before) // 9
    frpt = forget_rag_docs(spark, store, idx_dir, [0], corpus_dir=out)
    assert frpt["corpus_rows_deleted"] == per_doc
    assert spark.read.parquet(out).count() == len(rows_before) - per_doc


def test_compact_rag_corpus_rebucket_and_crash_recovery(spark, tmp_path):
    """r13 verdict Next #4 + the migration crash matrix: an explicit
    ``n_buckets`` re-buckets a bucketed corpus (sizing: N ≈
    corpus_bytes / target_rewrite_bytes), the marker refuses every
    other corpus reader/writer mid-migration, a pre-commit crash is
    recovered by discarding the partial rewrite and redoing from the
    intact originals, and a post-commit crash by finishing the
    deletes."""
    import json

    from pyspark.sql import functions as F

    from xdump_spark import fsutil
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import (
        _CORPUS_MIGRATION,
        _corpus_layout,
        _write_survivor_corpus,
        compact_rag_corpus,
        forget_rag_docs,
        prepare_rag_corpus,
    )

    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    out = str(tmp_path / "chunks")

    def body(tag):
        return " ".join(f"{tag}{i} {tag}x{i} {tag}y{i}" for i in range(40))

    prepare_rag_corpus(
        spark.createDataFrame(
            [(i, body(f"v{i}q")) for i in range(1, 5)],
            "doc_id long, text string",
        ),
        store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2, corpus_buckets=8,
    )
    cols = ["chunk_id", "doc_id", "text"]
    rows_before = sorted(
        tuple(row) for row in spark.read.parquet(out).select(*cols).collect()
    )

    # n_buckets=None (the default) never re-buckets
    compact_rag_corpus(spark, out)
    assert _corpus_layout(spark, out)["n_buckets"] == 8

    # explicit re-bucket 8 → 2: rows preserved, every row re-hashed
    rpt = compact_rag_corpus(spark, out, n_buckets=2)
    assert rpt["migration"]["n_buckets"] == 2
    assert _corpus_layout(spark, out) == {
        "kind": "bucketed", "n_buckets": 2, "bucket_by": "doc_id",
    }
    assert sorted(
        tuple(row) for row in spark.read.parquet(out).select(*cols).collect()
    ) == rows_before
    assert spark.read.parquet(out).filter(
        F.col("_bucket")
        != F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(2))
    ).count() == 0

    # pre-commit crash reconstruction: marker durable, a partial
    # (unlisted) rewrite file present, originals intact
    listed = [f for f, _ in fsutil.list_data_files(spark, out)]
    fsutil.write_text_atomic(
        spark, fsutil.join(out, _CORPUS_MIGRATION),
        json.dumps({"version": 1, "n_buckets": 4, "bucket_by": "doc_id",
                    "files": listed}),
    )
    junk_dir = tmp_path / "chunks" / "_bucket=0"
    junk_dir.mkdir(exist_ok=True)
    junk = junk_dir / "part-partial-rewrite.parquet"
    junk.write_bytes(b"not parquet")

    # mid-migration every other corpus reader/writer refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="interrupted layout migration"):
        _write_survivor_corpus(
            spark.createDataFrame(
                [("9:0", 9, "x")], "chunk_id string, doc_id long, text string"
            ),
            out, "doc_id", 8,
        )
    with _pytest.raises(ValueError, match="interrupted layout migration"):
        forget_rag_docs(spark, store, idx_dir, [1], corpus_dir=out)

    rpt2 = compact_rag_corpus(spark, out)
    assert rpt2["migration"] == {
        "files_migrated": len(listed), "n_buckets": 4, "resumed": True,
    }
    assert not junk.exists()  # the partial rewrite was discarded
    assert _corpus_layout(spark, out) == {
        "kind": "bucketed", "n_buckets": 4, "bucket_by": "doc_id",
    }
    assert sorted(
        tuple(row) for row in spark.read.parquet(out).select(*cols).collect()
    ) == rows_before

    # post-commit crash reconstruction: meta already names the target
    # count, some listed originals undeleted — resume finishes the
    # deletes and drops the marker without touching surviving data
    junk2 = junk_dir / "part-old-original.parquet"
    junk2.write_bytes(b"stale original")
    junk2_uri = next(  # the listing's URI form (file:/…), as a real
        f                # migration would have recorded it
        for f, _ in fsutil.list_data_files(spark, out)
        if f.endswith("part-old-original.parquet")
    )
    fsutil.write_text_atomic(
        spark, fsutil.join(out, _CORPUS_MIGRATION),
        json.dumps({"version": 1, "n_buckets": 4, "bucket_by": "doc_id",
                    "files": [junk2_uri]}),
    )
    rpt3 = compact_rag_corpus(spark, out)
    assert rpt3["migration"]["resumed"] is True
    assert not junk2.exists()
    assert not fsutil.exists_atomic(
        spark, fsutil.join(out, _CORPUS_MIGRATION)
    )
    assert sorted(
        tuple(row) for row in spark.read.parquet(out).select(*cols).collect()
    ) == rows_before


def test_forget_chunk_id_derivation_filters_before_distinct(
    spark, tmp_path
):
    """r12 verdict What's-wrong #2 plan pin: the doomed-chunk-id
    derivation semi-joins the (broadcast) doomed-parent frame BEFORE
    the distinct, so a small forget never exchanges the full
    postings-id universe. In the physical plan the distinct's
    HashAggregate must sit ABOVE the LeftSemi broadcast join (printed
    first) — distinct-first would print the join above the
    aggregate."""
    from pyspark.sql import functions as F

    import contextlib
    import io

    from xdump_spark.operators.incremental import (
        VectorStore,
        _as_id_frame,
        _delete_side,
    )
    from xdump_spark.pipeline import _doomed_chunk_ids, prepare_rag_corpus

    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    prepare_rag_corpus(
        spark.createDataFrame([(1, body)], "doc_id long, text string"),
        store, idx_dir, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2,
    )
    doomed_side = _delete_side(
        _as_id_frame(spark, [1], "doc_id").select(
            F.col("doc_id").cast("string").alias("_doc")
        )
    )
    df = _doomed_chunk_ids(spark, store, idx_dir, doomed_side)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "LeftSemi" in plan and "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("LeftSemi"), plan
    # small request → the doomed side broadcasts into both source scans
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_prepare_rag_corpus_accepted_set_matches_duckdb_replay(
    spark, tmp_path
):
    """r11 verdict Next #6: the RAG front door's composition arithmetic
    — docs → chunks → ACCEPTED SET — replayed independently in DuckDB.
    The fixture makes the semantic decisions exactly determined: docs
    have disjoint vocabularies (no cross-text cosine anywhere near the
    threshold) plus byte-identical re-keyed duplicates (cosine exactly
    1.0), so the accepted set must equal: chunk with the fixed-stride
    SQL chunker, group by chunk TEXT, keep the min composite chunk_id
    per group (the kernel's min-id survivor rule; string ids compare
    lexicographically in both engines)."""
    import duckdb

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import prepare_rag_corpus

    def body(tag):
        return " ".join(f"{tag}{i} {tag}x{i} {tag}y{i}" for i in range(30))

    rows = [(str(i), body(f"v{i}q")) for i in range(8)]
    # byte-identical re-sends under new ids — every chunk a dup
    rows += [(str(100 + i), body(f"v{i}q")) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    src = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.parquet(src)

    store = VectorStore(spark, str(tmp_path / "vs"))
    mt, ov, stride = 32, 8, 24
    r = prepare_rag_corpus(
        spark.read.parquet(src), store, str(tmp_path / "tidx"),
        max_tokens=mt, overlap=ov, hash_embed_dim=64,
        threshold=0.99, n_cells=2,
    )

    con = duckdb.connect()
    want = con.execute(f"""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM read_parquet('{src}/*.parquet')
          WHERE length(trim(text)) > 0
        ), c AS (
          SELECT doc_id, t,
                 unnest(generate_series(0,
                   CASE WHEN len(t) <= {mt} THEN 0
                        ELSE CAST(ceil((len(t) - {mt}) / {stride}.0) AS INT)
                   END)) AS chunk_idx
          FROM d
        ), s AS (
          SELECT doc_id || ':' || chunk_idx AS chunk_id,
                 array_to_string(list_slice(
                   t, chunk_idx*{stride} + 1, chunk_idx*{stride} + {mt}
                 ), ' ') AS chunk_text
          FROM c
        )
        SELECT min(chunk_id) FROM s GROUP BY chunk_text
    """).fetchall()
    expected = {x[0] for x in want}
    got = {x["chunk_id"] for x in r.chunks.select("chunk_id").collect()}
    assert got == expected

    # the audit counts replay too
    n_chunks = con.execute(f"""
        WITH d AS (
          SELECT regexp_split_to_array(trim(text), '\\s+') AS t
          FROM read_parquet('{src}/*.parquet')
          WHERE length(trim(text)) > 0
        )
        SELECT sum(CASE WHEN len(t) <= {mt} THEN 1
                   ELSE CAST(ceil((len(t) - {mt}) / {stride}.0) AS INT) + 1
                   END)
        FROM d
    """).fetchone()[0]
    assert r.audit == {
        "docs": 11, "chunks": int(n_chunks),
        "accepted_chunks": len(expected),
    }


def test_prepare_rag_corpus_content_updated_resend_reenters_index(
    spark, tmp_path
):
    """ADVICE r12 medium: the index-append idempotence key must be
    CONTENT, not merely the chunk-id set. A doc re-sent with corrected
    text and the same chunk count reproduces the identical chunk ids;
    an id-only key would hit the committed manifest entry and silently
    no-op the append — the store accepting the new vectors while BM25
    keeps only the old postings, diverged forever. With the text hash
    folded into the key the corrected batch computes a NEW key and
    re-enters the index (byte-identical crash replays still no-op —
    pinned in the two-day test above)."""
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import bm25_topk, load_text_index
    from xdump_spark.pipeline import prepare_rag_corpus

    body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    # corrected text: same token COUNT (same chunk grid → identical
    # chunk ids) but different words — far outside the dedup threshold,
    # so the store accepts the new vectors
    fixed = " ".join(f"sigma{i} tau{i} upsilon{i}" for i in range(40))
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")

    def ingest(text):
        return prepare_rag_corpus(
            spark.createDataFrame([(1, text)], "doc_id long, text string"),
            store, idx_dir, max_tokens=32, overlap=8,
            hash_embed_dim=64, threshold=0.9, n_cells=2,
        )

    r1 = ingest(body)
    per_doc = r1.audit["accepted_chunks"]
    assert per_doc > 1 and r1.index_entry is not None

    r2 = ingest(fixed)
    # the store accepted the corrected chunks (novel vectors under the
    # SAME composite chunk ids) ...
    assert r2.audit["accepted_chunks"] == per_doc
    # ... and the index append LANDED — an id-only key would no-op here
    assert r2.index_entry is not None
    assert r2.index_entry["batch_id"] != r1.index_entry["batch_id"]
    idx = load_text_index(spark, idx_dir)
    assert idx.n_docs == 2 * per_doc
    hits = bm25_topk(
        idx,
        spark.createDataFrame(
            [(0, "sigma3 tau3")], "query_id int, query string"
        ),
        k=3,
    ).collect()
    assert hits and all(h.chunk_id.startswith("1:") for h in hits)


def test_prepare_rag_corpus_crash_replay_noop(spark, tmp_path):
    """A crash in prepare_rag_corpus's index-commit→store-commit window
    leaves the batch's segment committed under its
    ``rag2:{epoch}:{content_xor}`` key and the store without it. The
    re-run recomputes the same survivors and key: the index append
    returns the committed entry (nothing double-counted) and the store
    commit lands, completing the crashed run."""
    from pyspark.sql import functions as F

    from xdump_spark.operators.chunking import chunk_tokens
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import (
        build_text_index,
        load_text_index,
        save_text_index,
    )
    from xdump_spark.pipeline import _survivor_batch_xor, prepare_rag_corpus
    import xdump_spark.operators.retrieval as R

    body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    docs = spark.createDataFrame([(1, body)], "doc_id long, text string")
    idx_dir = str(tmp_path / "tidx")
    store = VectorStore(spark, str(tmp_path / "vs"))
    kw = dict(max_tokens=32, overlap=8, hash_embed_dim=64,
              threshold=0.9, n_cells=2)

    # the crash state: the front door's chunks indexed under their key,
    # the store commit lost
    chunks = chunk_tokens(
        docs, max_tokens=32, overlap=8, text_col="text", id_col="doc_id"
    ).select(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("chunk_idx")
        ).alias("chunk_id"),
        F.col("chunk_text").alias("text"),
    )
    key = f"rag2:0:{_survivor_batch_xor(chunks)}"
    save_text_index(
        build_text_index(chunks, id_col="chunk_id"), idx_dir, batch_id=key
    )
    n0 = load_text_index(spark, idx_dir).n_docs

    r = prepare_rag_corpus(docs, store, idx_dir, **kw)
    assert r.audit["accepted_chunks"] == n0  # store commit landed
    assert r.index_entry["batch_id"] == key  # the committed entry
    assert load_text_index(spark, idx_dir).n_docs == n0  # NOT doubled
    assert len(R._read_manifest(spark, idx_dir)["segments"]) == 1

    # the completed state is healthy: a re-send dedups to zero
    # survivors and never reaches the append
    r2 = prepare_rag_corpus(docs, store, idx_dir, **kw)
    assert r2.audit["accepted_chunks"] == 0 and r2.index_entry is None


def _rag_chain_state(spark, store, idx_dir, out):
    """The RAG chain's CONTENT, artifact by artifact, in comparable
    form: corpus rows, index postings + scalars, store vectors."""
    from xdump_spark.operators.retrieval import load_text_index

    idx = load_text_index(spark, idx_dir)
    return {
        "corpus": sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("chunk_id", "doc_id", "text").collect()
        ),
        "postings": sorted(
            (r.term, r.id, r.tf, r.dl)
            for r in idx.postings.select("term", "id", "tf", "dl").collect()
        ),
        "n_docs": idx.n_docs,
        "total_dl": idx.total_dl,
        "vectors": sorted(
            (r.vec_id, tuple(r.embedding))
            for r in store.vectors().collect()
        ),
    }


def test_prepare_rag_corpus_replace_upserts_corrected_doc(
    spark, tmp_path
):
    """r13 verdict Next #3: ``replace=True`` is the one-call
    replace/upsert front door — a content-updated re-send forgets the
    incoming doc ids across store/index/corpus, then ingests; the end
    state must equal a FRESH build over the corrected corpus in every
    artifact (corpus rows, postings + scalars, store vectors)."""
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import prepare_rag_corpus

    body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    fixed = " ".join(f"sigma{i} tau{i} upsilon{i}" for i in range(40))
    other = " ".join(f"delta{i} eps{i} zeta{i}" for i in range(40))

    def ingest(docs, store, idx_dir, out, **kw):
        return prepare_rag_corpus(
            spark.createDataFrame(docs, "doc_id long, text string"),
            store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
            hash_embed_dim=64, threshold=0.9, n_cells=2,
            corpus_buckets=8, **kw,
        )

    # chain A: v1 ingest, then the corrected doc 1 through replace=True
    store_a = VectorStore(spark, str(tmp_path / "vs_a"))
    idx_a, out_a = str(tmp_path / "tidx_a"), str(tmp_path / "chunks_a")
    ingest([(1, body), (2, other)], store_a, idx_a, out_a)
    r = ingest([(1, fixed)], store_a, idx_a, out_a, replace=True)
    assert r.audit["replaced"]["docs_requested"] == 1
    assert r.audit["replaced"]["corpus_rows_deleted"] > 0
    assert r.index_entry is not None  # the corrected postings LANDED

    # chain B: one fresh build over the corrected corpus
    store_b = VectorStore(spark, str(tmp_path / "vs_b"))
    idx_b, out_b = str(tmp_path / "tidx_b"), str(tmp_path / "chunks_b")
    ingest([(1, fixed), (2, other)], store_b, idx_b, out_b)

    assert _rag_chain_state(spark, store_a, idx_a, out_a) == (
        _rag_chain_state(spark, store_b, idx_b, out_b)
    )

    # replace with a doc id new to every artifact degrades to a plain
    # ingest (the forget legs no-op) — safe for mixed batches
    novel = " ".join(f"kappa{i} lam{i} mu{i}" for i in range(40))
    r2 = ingest([(7, novel)], store_a, idx_a, out_a, replace=True)
    assert r2.audit["replaced"]["corpus_rows_deleted"] == 0
    assert r2.audit["accepted_chunks"] > 0


def test_prepare_rag_corpus_replace_crash_at_forget_ingest_seam(
    spark, tmp_path
):
    """The replace path's crash seam: the forget completed but the
    ingest never ran. Re-running the SAME replace call must converge —
    its forget legs no-op where already clean — to the fresh-build
    state over the corrected corpus."""
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import forget_rag_docs, prepare_rag_corpus

    body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    fixed = " ".join(f"sigma{i} tau{i} upsilon{i}" for i in range(40))
    other = " ".join(f"delta{i} eps{i} zeta{i}" for i in range(40))

    def ingest(docs, store, idx_dir, out, **kw):
        return prepare_rag_corpus(
            spark.createDataFrame(docs, "doc_id long, text string"),
            store, idx_dir, out_dir=out, max_tokens=32, overlap=8,
            hash_embed_dim=64, threshold=0.9, n_cells=2,
            corpus_buckets=8, **kw,
        )

    store_a = VectorStore(spark, str(tmp_path / "vs_a"))
    idx_a, out_a = str(tmp_path / "tidx_a"), str(tmp_path / "chunks_a")
    ingest([(1, body), (2, other)], store_a, idx_a, out_a)
    # the crash state: replace's forget half ran, ingest half did not
    forget_rag_docs(spark, store_a, idx_a, [1], corpus_dir=out_a)
    # the redelivery: the whole replace call again
    ingest([(1, fixed)], store_a, idx_a, out_a, replace=True)

    store_b = VectorStore(spark, str(tmp_path / "vs_b"))
    idx_b, out_b = str(tmp_path / "tidx_b"), str(tmp_path / "chunks_b")
    ingest([(1, fixed), (2, other)], store_b, idx_b, out_b)

    assert _rag_chain_state(spark, store_a, idx_a, out_a) == (
        _rag_chain_state(spark, store_b, idx_b, out_b)
    )


def test_prepare_rag_corpus_rag2_keys_survive_compaction(spark, tmp_path):
    """New index appends key as ``rag2:{epoch}:{content_xor}``, and
    compaction must carry them VERBATIM — a crash replay after a
    compaction still no-ops against the carried key."""
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import compact_text_index
    from xdump_spark.pipeline import prepare_rag_corpus
    import xdump_spark.operators.retrieval as R

    body = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    r = prepare_rag_corpus(
        spark.createDataFrame([(1, body)], "doc_id long, text string"),
        store, idx_dir, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.9, n_cells=2,
    )
    bid = r.index_entry["batch_id"]
    assert str(bid).startswith("rag2:0:")
    compact_text_index(spark, idx_dir)
    man = R._read_manifest(spark, idx_dir)
    assert bid in man["segments"][0].get("batch_ids", ())


def test_survivor_batch_xors_null_text_row_visible(spark):
    """ADVICE r13 low: the content key must SEE a null-text survivor
    row — without the coalesce, concat yields NULL for that row and
    bit_xor silently skips it, so two batches differing only in a
    null-text chunk would collide on the same idempotence key."""
    from xdump_spark.pipeline import _survivor_batch_xor

    schema = "chunk_id string, text string"
    base = spark.createDataFrame([("1:0", "hello world")], schema)
    with_null = spark.createDataFrame(
        [("1:0", "hello world"), ("1:1", None)], schema
    )
    # the null-text row contributes
    assert _survivor_batch_xor(with_null) != _survivor_batch_xor(base)


def test_prepare_rag_corpus_composite_chunk_identity(spark, tmp_path):
    """r11 verdict "What's missing #3": chunk identity is the COMPOSITE
    '{doc_id}:{chunk_idx}' string, not a 64-bit hash — distinct chunks
    can never share an id (the hashed scheme silently merged colliding
    chunks in store and index at ~3% odds per 1e9 chunks). Pins: the id
    format is stable across re-runs; every distinct (doc_id, chunk_idx)
    keeps a distinct id, including adversarial colon-bearing doc ids
    whose concatenations could textually overlap; the store and index
    carry exactly those ids."""
    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.operators.retrieval import load_text_index
    from xdump_spark.pipeline import prepare_rag_corpus

    # doc ids engineered so naive concatenation could collide:
    # doc "a:1" chunk 2 vs doc "a" chunk 12 — composite ids "a:1:2" and
    # "a:12" must stay distinct (chunk_idx is the final int segment).
    # Bodies are unrelated so semantic dedup keeps every chunk.
    body1 = " ".join(f"tok{i} word{i} term{i}" for i in range(40))
    body2 = " ".join(f"red{i} blue{i} green{i}" for i in range(40))
    docs = spark.createDataFrame(
        [("a:1", body1), ("a", body2)],
        "doc_id string, text string",
    )
    store = VectorStore(spark, str(tmp_path / "vs"))
    idx_dir = str(tmp_path / "tidx")
    r = prepare_rag_corpus(
        docs, store, idx_dir, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.999, n_cells=2,
    )
    rows = r.chunks.select("chunk_id", "doc_id", "chunk_idx").collect()
    assert all(x.chunk_id == f"{x.doc_id}:{x.chunk_idx}" for x in rows)
    assert len({x.chunk_id for x in rows}) == len(rows)
    # both docs' chunk 0 survive as distinct entries (a hash collision
    # would have merged them into one id)
    ids = {x.chunk_id for x in rows}
    assert "a:1:0" in ids and "a:0" in ids

    # store and index hold exactly the composite ids
    stored = {
        x["neighbor_id"]
        for x in spark.read.parquet(store._assigned_path())
        .select("neighbor_id").collect()
    }
    assert stored == ids
    idx = load_text_index(spark, idx_dir)
    assert {x["id"] for x in idx.postings.select("id").distinct().collect()} == ids

    # re-run: identical ids derived again (stability), all rejected by
    # the store as re-sends — nothing new indexed
    r2 = prepare_rag_corpus(
        docs, store, idx_dir, max_tokens=32, overlap=8,
        hash_embed_dim=64, threshold=0.999, n_cells=2,
    )
    assert r2.audit["accepted_chunks"] == 0 and r2.index_entry is None
