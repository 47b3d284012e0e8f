"""Config-file-driven runs — the analog of the reference's Django
integration, where table sets live in settings (``XDUMP = {FULL_TABLES,
PARTIAL_TABLES, BACKEND}``, reference: extra/django/xdump/management/
core.py:7-74) and a management command runs without CLI flags. Three
flows read a JSON file (no extra dependencies), and each runs through
the same function as its CLI subcommand:

- **dump** (:func:`dump_from_config`, ``framework.run_dump``)::

    {
      "db": "/path/to/parquet_db",
      "output": "dump.zip",
      "full_tables": ["groups"],
      "partial_tables": {"employees": "SELECT * FROM employees WHERE id = 1"},
      "compression": "deflated",
      "dump_schema": true,
      "dump_data": true
    }

- **curate** (:func:`curate_from_config`, :func:`run_curate`): the
  keys of ``pipeline.prepare_training_corpus`` plus the input, the side
  outputs and the ``dedup_store`` / ``embeddings`` objects.
- **ingest** (:func:`ingest_from_config`): the keys of
  ``streaming.ingest.run_ingest``, with the dedup store as one
  ``store`` object.

A key the file leaves out takes the default of the function it feeds.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def _read_config(path: str, what: str, required: tuple, known: set) -> dict:
    with open(path) as f:
        cfg = json.load(f)
    for key in required:
        if key not in cfg:
            raise ValueError(f"{what} missing required key {key!r}")
    unknown = set(cfg) - known
    if unknown:
        raise ValueError(f"unknown {what} keys: {sorted(unknown)}")
    return cfg


def load_config(path: str) -> dict:
    return _read_config(path, "config", ("db", "output"), {
        "db", "output", "full_tables", "partial_tables",
        "compression", "dump_schema", "dump_data", "since",
    })


def dump_from_config(spark: SparkSession, path: str) -> dict[str, int]:
    """Run a dump as described by a JSON config file; returns per-table
    row counts (same as ``SparkDumpEngine.dump``)."""
    from xdump_spark.framework import run_dump
    from xdump_spark.sources.parquet_db import ParquetDatabase

    cfg = load_config(path)
    db = ParquetDatabase(spark, cfg.pop("db"))
    return run_dump(spark, db, cfg.pop("output"), **cfg)


_CURATE_KEYS = {
    "input", "output", "text_col", "id_col", "markup", "line_filter",
    "line_dedup", "span_k", "min_tokens", "gopher", "sample_rates",
    "strata_col", "benchmark", "shuffle_seed", "pack_budget", "tokenize",
    "vocab_size", "partition_by", "overwrite", "shards_out", "shards_format",
    "blocklist", "blocklist_mode", "quality_model", "quality_score_min",
    "ppl_model", "max_ppl",
    "target_mixture", "mixture_col", "contamination_policy",
    "dsir_target", "dsir_n", "dsir_temperature", "dsir_buckets", "dsir_seed",
    "doc_dedup", "fuzzy_threshold", "fuzzy_kwargs", "compression_min",
    "embedding_col", "semantic_threshold", "semantic_kwargs", "embeddings",
    "hash_embed",
    "audio_gate", "dedup_store", "url_col", "dedup_urls", "domain_cap",
    "input_format", "audit", "checkpoint_dir", "checkpoint_stages",
    "resume", "chunk_budget", "chunk_overlap", "chunk_by", "chunks_out",
    "splits", "split_seed", "card_out",
}


def load_curate_config(path: str) -> dict:
    return _read_config(path, "curate config", ("input", "output"), _CURATE_KEYS)


_INGEST_KEYS = {
    "kind", "input_dir", "output", "checkpoint_dir", "store",
    "corrupt_out", "rejects_out", "template", "keep_contradictions",
    "path_glob", "text_col", "id_col", "vec_col", "semantic_threshold",
    "semantic_cells", "semantic_max_cell", "hash_embed", "doc_dedup",
    "fuzzy_threshold", "schema", "processing_time", "await_seconds",
    "index_dir", "chunk_tokens", "chunk_overlap", "corpus_buckets",
    "replace",
}

# ingest ``store`` object key → run_ingest parameter
_INGEST_STORE_KEYS = {
    "table": "store_table", "path": "store_path", "n_buckets": "store_buckets",
    "dtype": "vector_dtype", "pq_m": "pq_m", "pq_k": "pq_k",
    "exact_guard": "exact_guard",
}


def load_ingest_config(path: str) -> dict:
    cfg = _read_config(
        path, "ingest config",
        ("kind", "input_dir", "output", "checkpoint_dir"), _INGEST_KEYS,
    )
    store = cfg.get("store", {})
    if not isinstance(store, dict):
        raise ValueError("ingest config 'store' must be an object")
    unknown = set(store) - set(_INGEST_STORE_KEYS)
    if unknown:
        raise ValueError(f"unknown ingest store keys: {sorted(unknown)}")
    return cfg


def ingest_from_config(spark: SparkSession, path: str):
    """Run one drop-directory streaming ingest as described by a JSON
    config file — the scheduled-pipeline invocation mode of ``cli
    ingest`` (same shape as ``curate_from_config``): the full drop/
    store/output wiring lives in one reviewable artifact.

        {
          "kind": "sft", "input_dir": "/drops/sft",
          "output": "/data/sft_corpus", "checkpoint_dir": "/ckpt/sft",
          "store": {"table": "sft_hashes", "n_buckets": 64},
          "rejects_out": "/data/sft_rejects", "template": "chatml"
        }

    The ``store`` object is the kind-matched dedup store: ``table`` (+
    optional ``path``, ``n_buckets``) for wet/sft/pairs, ``path`` (+
    optional ``dtype``) for semantic and rag. ``kind: "rag"`` also
    takes ``index_dir`` (required), ``chunk_tokens``, ``chunk_overlap``,
    ``corpus_buckets``, and ``replace`` (each drop replaces its doc
    ids across the chain — the corrected-document inbox).
    Returns the (stopped, in drain mode) StreamingQuery from
    :func:`xdump_spark.streaming.ingest.run_ingest`."""
    from xdump_spark.streaming.ingest import run_ingest

    cfg = load_ingest_config(path)
    store = cfg.pop("store", {})
    return run_ingest(
        spark, **cfg, **{_INGEST_STORE_KEYS[k]: v for k, v in store.items()}
    )


def _load_quality_model(path: str):
    """A LinearModel JSON file (classifier.LinearModel.to_dict) → model."""
    from xdump_spark.operators.classifier import LinearModel

    with open(path) as fh:
        return LinearModel.from_dict(json.load(fh))


# doc_dedup → the persistent store its ``dedup_store`` object opens:
# (class in operators.incremental, required key, optional keys). The
# required key is the constructor's first argument, the optional keys
# its keyword arguments.
_DEDUP_STORES = {
    # the near-dup MinHash SignatureStore
    "fuzzy": ("SignatureStore", "path", ()),
    # the embedding VectorStore; dtype, pq_m, pq_k and exact_guard
    # apply at store creation only
    "semantic": ("VectorStore", "path", ("dtype", "pq_m", "pq_k", "exact_guard")),
    # the exact-dedup hash store (doc_dedup == "exact")
    "exact": ("ExactHashStore", "table", ("path", "n_buckets")),
}


def _dedup_store(spark: SparkSession, sc: dict, doc_dedup: str | None):
    from xdump_spark.operators import incremental

    cls, required, optional = _DEDUP_STORES.get(doc_dedup, _DEDUP_STORES["exact"])
    if required not in sc or set(sc) - {required, *optional}:
        extra = f" (+ optional {', '.join(map(repr, optional))})" if optional else " only"
        raise ValueError(
            f"dedup_store config with doc_dedup={doc_dedup!r} needs "
            f"{required!r}{extra}; got keys {sorted(sc)}"
        )
    rest = {k: v for k, v in sc.items() if k != required}
    return getattr(incremental, cls)(spark, sc[required], **rest)


def run_curate(spark: SparkSession, req: dict):
    """Run one curate request: the one curate path behind
    :func:`curate_from_config` and the CLI's ``curate``. ``req`` holds
    curate config keys (:func:`load_curate_config`); only the keys it
    holds reach ``prepare_training_corpus``, so every default is that
    function's. Around the pipeline it reads the input (parquet, or WET
    with the corrupt files printed), joins the ``embeddings`` table,
    opens the ``dedup_store``, loads the quality model, and writes the
    side outputs (``card_out``, ``shards_out``, ``chunks_out``).

    Returns the :class:`~xdump_spark.pipeline.CorpusResult`."""
    from xdump_spark.pipeline import prepare_training_corpus

    kw = dict(req)
    src, out = kw.pop("input"), kw.pop("output")
    input_format = kw.pop("input_format", "parquet")
    embeddings = kw.pop("embeddings", None)
    shards_out = kw.pop("shards_out", None)
    shards_format = kw.pop("shards_format", "parquet")
    chunks_out = kw.pop("chunks_out", None)
    card_out = kw.pop("card_out", None)
    mode = "overwrite" if kw.pop("overwrite", False) else "errorifexists"
    hash_embed = kw.get("hash_embed")
    if input_format not in ("parquet", "wet"):
        raise ValueError(
            f"input_format must be 'parquet' or 'wet', got {input_format!r}"
        )
    if embeddings and hash_embed:
        raise ValueError(
            "embeddings and hash_embed are mutually exclusive "
            "(one embedding source)"
        )
    if hash_embed is not None and not isinstance(hash_embed, int):
        raise ValueError(
            f"hash_embed config must be an int dim; got {hash_embed!r}"
        )
    if (embeddings or hash_embed) and kw.get("doc_dedup") != "semantic":
        raise ValueError(
            "embeddings/hash_embed require doc_dedup='semantic' (the "
            "embeddings inner join would silently drop vector-less docs "
            "from a run that never uses the vectors)"
        )
    if embeddings and ("path" not in embeddings or set(embeddings) - {"path", "id_col"}):
        raise ValueError(
            "embeddings config needs 'path' (+ optional 'id_col'); "
            f"got keys {sorted(embeddings)}"
        )
    if shards_out and shards_format == "binary" and not kw.get("tokenize"):
        raise ValueError("shards_format 'binary' requires tokenize: true")
    for key, read in (
        ("dedup_store", lambda sc: _dedup_store(spark, sc, kw.get("doc_dedup"))),
        ("quality_model", _load_quality_model),
        ("benchmark", spark.read.parquet),
        ("dsir_target", spark.read.parquet),
    ):
        if key in kw:
            kw[key] = read(kw[key]) if kw[key] else None
    if "span_k" in kw:
        kw["span_k"] = kw["span_k"] or None   # 0 disables span dedup
    if "partition_by" in kw:
        kw["partition_by"] = tuple(kw["partition_by"])
    if "checkpoint_stages" in kw:
        kw["checkpoint_stages"] = set(kw["checkpoint_stages"] or ()) or None
    if card_out:
        kw["make_card"] = True

    if input_format == "wet":
        from xdump_spark.sources.warc import read_wet

        docs, corrupt = read_wet(spark, src)
        # the quarantine contract is only useful if someone SEES it: ONE
        # collect (bounded: one row per corrupt FILE) — count() plus
        # collect() would parse the whole crawl twice
        corrupt_rows = corrupt.collect()
        if corrupt_rows:
            print(f"quarantined {len(corrupt_rows)} corrupt WET file(s):")
            for r in corrupt_rows:
                print(f"  {r.path} @byte {r.byte_offset}: {r.reason}")
        # materialize the parse ONCE: without this every pipeline action
        # (each stage with multiple consumers) re-runs the full WARC
        # inflate+parse — O(stages) crawl parses per run
        docs = docs.localCheckpoint(eager=True)
    else:
        docs = spark.read.parquet(src)
    if embeddings:
        # attach the embedding table by id for doc_dedup='semantic'
        # (INNER: a doc without a vector cannot be semantically deduped,
        # and a silent null would crash the cell kernel instead); the
        # vector is computed inside the pipeline with hash_embed
        from pyspark.sql import functions as F

        id_col = kw.get("id_col", "doc_id")
        emb = spark.read.parquet(embeddings["path"]).select(
            F.col(embeddings.get("id_col", "vec_id")).alias(id_col),
            F.col(kw.get("embedding_col", "embedding")),
        )
        docs = docs.join(emb, id_col, "inner")

    res = prepare_training_corpus(docs, out_dir=out, out_mode=mode, **kw)
    if card_out:
        with open(card_out, "w") as fh:
            json.dump(res.card, fh, indent=2, sort_keys=True)
        print(f"wrote data card to {card_out}")
    if res.sequences is not None and shards_out:
        if shards_format == "binary":
            from xdump_spark.sources.token_shards import write_binary_shards

            m = write_binary_shards(res.sequences, shards_out)
            print(
                f"wrote {m['n_shards']} binary shard(s), "
                f"{m['n_tokens']} tokens ({m['dtype']}) to {shards_out}"
            )
        else:
            res.sequences.write.mode(mode).parquet(shards_out)
            print(f"wrote sequences to {shards_out}")
    if res.chunks is not None and chunks_out:
        res.chunks.write.mode(mode).parquet(chunks_out)
        print(f"wrote chunks to {chunks_out}")
    return res


def curate_from_config(spark: SparkSession, path: str):
    """Run corpus preparation as described by a JSON config file — the
    settings-driven invocation mode (same shape as ``dump_from_config``),
    so a scheduled pipeline run carries its full stage configuration in
    one reviewable artifact instead of a flag soup:

        {
          "input": "raw_docs.parquet", "output": "/data/corpus",
          "markup": true, "line_dedup": true, "span_k": 8,
          "sample_rates": {"en": 0.5}, "pack_budget": 4096,
          "tokenize": true, "shards_out": "/data/shards"
        }

    Returns the :class:`~xdump_spark.pipeline.CorpusResult`.
    """
    return run_curate(spark, load_curate_config(path))
