"""CLI mirroring the reference's ``xdump`` / ``xload`` commands
(xdump/cli/dump.py:41-74, xdump/cli/load.py:13-22) over the parquet-db
source.

    python -m xdump_spark.cli dump -i DBDIR -o dump.zip \
        -f groups -p "employees:SELECT * FROM employees WHERE id = 1" \
        --compression deflated [--no-schema] [--no-data]
    python -m xdump_spark.cli dump --jdbc-url jdbc:postgresql://host/db \
        [-U user] [-W password] [--jdbc-driver CLASS] [--stage-dir DIR] \
        -o dump.zip -f groups -p "employees:SELECT ..."
    python -m xdump_spark.cli load -i dump.zip -o DBDIR \
        [--cleanup-method {recreate,truncate}]
    python -m xdump_spark.cli load -i dump.zip --jdbc-url jdbc:... \
        [-U user] [-W password] [--jdbc-driver CLASS] [--cleanup-method truncate]

Each subcommand is one function in ``_COMMANDS``. dump, load and curate
run through the same functions as the JSON-config and framework entry
points (``framework.run_dump``, ``framework.run_load``,
``config.run_curate``).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

from xdump_spark.archive import COMPRESSION


# The reference resolves backends from importable strings
# (xdump/cli/utils.py:12-22); same extensibility surface here. A backend
# class takes (spark, path) and provides catalog() plus the maintenance
# hooks truncate()/recreate()/write_fk_config() (see
# sources/parquet_db.py:23-80, the default).
DEFAULT_BACKEND = "xdump_spark.sources.parquet_db:ParquetDatabase"


def resolve_backend(spec: str):
    """'pkg.module:Class' (or 'pkg.module.Class') → the class object."""
    import importlib

    mod_name, sep, cls_name = spec.partition(":")
    if not sep:
        mod_name, _, cls_name = spec.rpartition(".")
    if not mod_name or not cls_name:
        raise argparse.ArgumentTypeError(
            f"backend must look like 'pkg.module:Class', got {spec!r}"
        )
    try:
        mod = importlib.import_module(mod_name)
    except ImportError as e:
        raise argparse.ArgumentTypeError(f"cannot import backend module {mod_name!r}: {e}")
    try:
        return getattr(mod, cls_name)
    except AttributeError:
        raise argparse.ArgumentTypeError(f"module {mod_name!r} has no attribute {cls_name!r}")


def parse_sample_rate(value: str) -> tuple[str, float]:
    if "=" not in value:
        raise argparse.ArgumentTypeError(
            f"expected LANG=RATE (e.g. en=0.5), got {value!r}"
        )
    lang, _, rate = value.partition("=")
    try:
        r = float(rate)
    except ValueError:
        raise argparse.ArgumentTypeError(f"rate {rate!r} is not a number")
    if not 0.0 <= r <= 1.0:
        raise argparse.ArgumentTypeError(f"rate {r} outside [0, 1]")
    return lang, r


def parse_splits(value: str) -> dict:
    """'train=0.98,val=0.01,test=0.01' -> {name: fraction} (order kept:
    the FIRST split is the train split by convention)."""
    out: dict = {}
    for part in value.split(","):
        name, _, frac = part.strip().partition("=")
        if not name or not frac:
            raise argparse.ArgumentTypeError(
                f"expected NAME=FRAC[,NAME=FRAC...], got {value!r}"
            )
        try:
            out[name] = float(frac)
        except ValueError:
            raise argparse.ArgumentTypeError(f"fraction {frac!r} is not a number")
    if abs(sum(out.values()) - 1.0) > 1e-9:
        raise argparse.ArgumentTypeError(
            f"split fractions must sum to 1, got {sum(out.values())}"
        )
    return out


def parse_partial(value: str) -> tuple[str, str]:
    """'table:SELECT ...' → (table, sql); bad format is a usage error
    (reference: xdump/cli/dump.py:16-29, tests/cli/test_dump.py:52-58)."""
    table, sep, sql = value.partition(":")
    if not sep or not table.strip() or not sql.strip():
        raise argparse.ArgumentTypeError(
            f"partial table spec must look like 'table:SELECT ...', got {value!r}"
        )
    return table.strip(), sql.strip()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="xdump-spark")
    p.add_argument(
        "-v", "--verbosity", action="count", default=0,
        help="-v: info (queries), -vv: debug (per-table timings) — the "
        "reference's verbosity surface (xdump/cli/dump.py, xdump/logging.py)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    d = sub.add_parser("dump", help="make a consistent partial dump")
    src = d.add_mutually_exclusive_group(required=True)
    src.add_argument("-i", "--input-db", help="parquet database directory")
    src.add_argument(
        "--jdbc-url",
        help="live-database source, e.g. jdbc:postgresql://host/db or "
        "jdbc:derby:/path;create=true (the reference's -U/-H/-P/-D "
        "connection surface, xdump/cli/dump.py:41-74, folded into one URL)",
    )
    d.add_argument("-U", "--jdbc-user", default=None)
    d.add_argument(
        "-W", "--jdbc-password", default=None,
        help="falls back to $PGPASSWORD (reference: xdump/postgresql.py:85-89)",
    )
    d.add_argument("--jdbc-driver", default=None, help="JDBC driver class name")
    d.add_argument(
        "--jdbc-table", action="append", default=[], dest="jdbc_tables",
        help="restrict to these tables (repeatable; default: all user tables)",
    )
    d.add_argument(
        "--stage-dir", default=None,
        help="parquet snapshot directory for consistent live-DB dumps "
        "(default: a temp dir; staged at t0 so concurrent writers are invisible)",
    )
    d.add_argument("-o", "--output", required=True, help="output zip path")
    d.add_argument("-f", "--full-table", action="append", default=[], dest="full_tables")
    d.add_argument(
        "-p", "--partial", action="append", default=[], type=parse_partial,
        help="'table:SELECT ...' seed (repeatable)",
    )
    d.add_argument("--compression", choices=sorted(COMPRESSION), default="deflated")
    d.add_argument("--no-schema", action="store_true", dest="no_schema")
    d.add_argument("--no-data", action="store_true", dest="no_data")
    d.add_argument(
        "--since", default=None, metavar="PREV_ZIP",
        help="incremental dump: export only rows not captured by this "
        "prior archive (its sequence state is the high-watermark; the "
        "delta loads append-style onto a previously-loaded target)",
    )
    d.add_argument(
        "--backend", type=resolve_backend, default=None,
        help=f"source class as 'pkg.module:Class' (default {DEFAULT_BACKEND})",
    )

    ld = sub.add_parser("load", help="load a dump into a parquet database")
    ld.add_argument("-i", "--input", required=True, help="dump zip path")
    dst = ld.add_mutually_exclusive_group(required=True)
    dst.add_argument("-o", "--output-db", help="target parquet db dir")
    dst.add_argument(
        "--jdbc-url",
        help="live-database target: tables are written FK-toposorted over "
        "JDBC and serial counters restarted at max+1 "
        "(reference: xdump/cli/load.py:13-22 + base.py:220-250)",
    )
    ld.add_argument("-U", "--jdbc-user", default=None)
    ld.add_argument("-W", "--jdbc-password", default=None)
    ld.add_argument("--jdbc-driver", default=None, help="JDBC driver class name")
    ld.add_argument(
        "--cleanup-method", choices=["recreate", "truncate"], default=None,
        help="clean the target before loading (reference: "
        "xdump/cli/load.py:25-37); a --jdbc-url target takes truncate only",
    )
    ld.add_argument(
        "--backend", type=resolve_backend, default=None,
        help=f"target class as 'pkg.module:Class' (default {DEFAULT_BACKEND})",
    )

    # curate flags carry no defaults: a flag left out is left out of the
    # curate request too (_curate_request), so prepare_training_corpus's
    # signature holds every default, as it does for a curate config
    c = sub.add_parser(
        "curate",
        help="prepare a training corpus from a documents table "
        "(pipeline.prepare_training_corpus from the shell)",
        argument_default=argparse.SUPPRESS,
    )
    c.add_argument("-i", "--input", required=True, help="documents parquet path")
    c.add_argument(
        "--input-format", choices=["parquet", "wet"],
        help="'wet' reads Common-Crawl WET/WARC conversion records "
             "(sources/warc.py) with (doc_id, url, date, text) columns; "
             "corrupt files quarantine, never fail the run",
    )
    c.add_argument("-o", "--output", required=True, help="output corpus directory")
    c.add_argument("--text-col")
    c.add_argument("--id-col")
    c.add_argument("--markup", action="store_true", help="strip HTML tags/entities first")
    c.add_argument("--line-filter", action="store_true", help="C4 per-line gates")
    c.add_argument("--line-dedup", action="store_true", help="global keep-first line dedup")
    c.add_argument("--url-col")
    c.add_argument("--dedup-urls", action="store_true",
                   help="drop re-crawls by canonical URL (before any text stage)")
    c.add_argument("--domain-cap", type=int,
                   help="max docs per registrable domain (salted top-k)")
    c.add_argument(
        "--span-k", type=int,
        help="strip cross-doc substrings of >= K tokens (0 disables)",
    )
    c.add_argument(
        "--doc-dedup", choices=["exact", "fuzzy", "semantic"],
        help="document-level dedup stage: exact fingerprint, MinHash-LSH "
        "fuzzy clusters (components.fuzzy_dedup), or SemDeDup embedding "
        "dedup (similarity.semantic_dedup — input must carry "
        "--embedding-col)",
    )
    c.add_argument("--fuzzy-threshold", type=float)
    c.add_argument("--semantic-threshold", type=float)
    c.add_argument("--semantic-cells", type=int, default=16,
                   help="with --doc-dedup semantic: KMeans cell count "
                        "(SemDeDup runs 50k at web scale; must be <= the "
                        "corpus size)")
    c.add_argument("--embedding-col",
                   help="with --doc-dedup semantic: the vector column on "
                        "the input (join embeddings upstream)")
    c.add_argument("--vector-store",
                   help="with --doc-dedup semantic: persistent embedding "
                        "VectorStore directory; this run dedups against "
                        "all previously-accepted vectors and records its "
                        "survivors (daily-crawl increments)")
    c.add_argument("--vector-dtype", choices=["float64", "float32", "pq"],
                   help="with --vector-store: on-disk vector "
                        "representation at store CREATION (float32 "
                        "halves store bytes and transfer; pq stores "
                        "product-quantized CODES, 8-32x smaller, with "
                        "a documented threshold-margin decision "
                        "caveat; compute stays float64). An existing "
                        "store keeps its own recorded dtype.")
    c.add_argument("--pq-m", type=int,
                   help="with --vector-dtype pq: codes per vector at "
                        "store CREATION (the bytes/accuracy dial)")
    c.add_argument("--pq-k", type=int,
                   help="with --vector-dtype pq: codewords per subspace "
                        "at store creation")
    c.add_argument("--exact-guard", action="store_true",
                   help="with --vector-store, at store CREATION: keep "
                        "exact-vector hashes and probe them globally "
                        "each increment, so byte-identical re-sends "
                        "reject even across pq retrains (an existing "
                        "store keeps its own recorded setting)")
    c.add_argument("--embeddings", metavar="PARQUET",
                   help="with --doc-dedup semantic: an embedding table to "
                        "attach by id before the pipeline (docs without a "
                        "vector are dropped — they cannot be semantically "
                        "deduped)")
    c.add_argument("--embeddings-id-col",
                   help="id column of the --embeddings table")
    c.add_argument("--hash-embed", type=int, metavar="DIM",
                   help="with --doc-dedup semantic: compute DETERMINISTIC "
                        "hashing-trick embeddings from the text itself "
                        "(text.hash_embed_col, no model required — lexical "
                        "k-gram geometry) instead of loading --embeddings")
    c.add_argument("--dedup-store-table",
                   help="with --doc-dedup exact: persistent hash-store table; "
                        "this run dedups against all previously-accepted docs "
                        "and records its survivors (daily-crawl increments)")
    c.add_argument("--dedup-store-path",
                   help="external location for the hash-store table")
    c.add_argument("--dedup-store-buckets", type=int)
    c.add_argument("--neardup-store",
                   help="with --doc-dedup fuzzy: persistent MinHash "
                        "SignatureStore directory; this run near-dedups "
                        "against all previously-accepted docs and records "
                        "its survivors' signatures (daily-crawl increments)")
    c.add_argument("--min-tokens", type=int)
    c.add_argument(
        "--gopher", action="store_true",
        help="apply the Gopher quality rules (curation.gopher_filter)",
    )
    c.add_argument(
        "--blocklist", metavar="TERMS_FILE",
        help="drop docs containing any term from this file (one per line; "
        "C4 banned-word semantics, cleaning.blocklist_filter)",
    )
    c.add_argument("--blocklist-mode", choices=["token", "substring"])
    c.add_argument(
        "--sample", action="append", type=parse_sample_rate,
        metavar="LANG=RATE", help="per-stratum deterministic rate (repeatable)",
    )
    c.add_argument(
        "--compression-min", type=float,
        help="drop docs whose zlib compression ratio falls below this "
        "floor (redundancy gate, curation.compression_ratio_frame)",
    )
    c.add_argument(
        "--no-audit", action="store_true",
        help="skip per-stage doc counts (each is one count job; "
        "production runs over a large crawl should skip them)",
    )
    c.add_argument(
        "--splits", type=parse_splits,
        metavar="train=0.98,val=0.01,test=0.01",
        help="deterministic hash_split of the final corpus: one output "
             "sub-directory per split; membership is a pure function of "
             "(--split-seed, id) so re-runs agree; packing/shards use "
             "the first-named split only",
    )
    c.add_argument("--split-seed", type=int)
    c.add_argument(
        "--checkpoint-dir",
        help="restart-safe runs: materialize each stage under this dir "
        "with a chained config fingerprint; a rerun resumes from the "
        "latest still-valid stage (xdump_spark/checkpointing.py)",
    )
    c.add_argument(
        "--checkpoint-stages", metavar="S1,S2",
        help="comma-separated stage names to materialize (default all); "
        "unlisted stages still chain into the fingerprint",
    )
    c.add_argument(
        "--no-resume", action="store_true",
        help="with --checkpoint-dir: rewrite every checkpoint instead "
        "of resuming",
    )
    c.add_argument(
        "--quality-model", metavar="MODEL_JSON",
        help="LinearModel JSON (classifier.fit_linear_classifier output); "
        "docs scoring below --quality-min are dropped",
    )
    c.add_argument("--quality-min", type=float)
    c.add_argument(
        "--ppl-model", metavar="LM_DIR",
        help="saved Stupid-Backoff LM (train-lm output); docs above "
        "--max-ppl perplexity are dropped (the CCNet filter)",
    )
    c.add_argument("--max-ppl", type=float)
    c.add_argument(
        "--dsir-target", metavar="TARGET_PARQUET",
        help="DSIR selection stage: importance-resample toward this "
        "target corpus's hashed n-gram distribution (with --dsir-n)",
    )
    c.add_argument("--dsir-n", type=int)
    c.add_argument("--dsir-temperature", type=float)
    c.add_argument(
        "--mixture", action="append", type=parse_sample_rate,
        metavar="SOURCE=SHARE",
        help="target mixture share per source (repeatable); the corpus is "
        "downsampled so its composition matches (curation.mixture_resample)",
    )
    c.add_argument(
        "--card-out", metavar="CARD_JSON",
        help="write the output corpus's data card JSON here",
    )
    c.add_argument(
        "--benchmark",
        help="parquet of eval docs; overlapping corpus docs are dropped "
        "(or span-stripped with --contamination-policy strip)",
    )
    c.add_argument("--contamination-policy", choices=["drop", "strip"])
    c.add_argument("--seed", type=int, help="shuffle seed")
    c.add_argument(
        "--pack-budget", type=int,
        help="pack documents into sequences of <= N tokens",
    )
    c.add_argument(
        "--tokenize", action="store_true",
        help="with --pack-budget: emit (seq_id, input_ids) token shards",
    )
    c.add_argument("--shards-out", help="write the pack/shard table here")
    c.add_argument(
        "--chunk-budget", type=int,
        help="split surviving docs into <= N-token chunks "
             "(RAG/embedding ingestion output)",
    )
    c.add_argument("--chunk-overlap", type=int,
                   help="tokens shared between neighboring chunks")
    c.add_argument("--chunk-by", choices=["tokens", "sentences"])
    c.add_argument("--chunks-out",
                   help="write the chunk table here (parquet)")
    c.add_argument(
        "--shards-format", choices=["parquet", "binary"],
        help="'binary' writes mmap-ready .bin/.idx token shards + "
             "manifest.json (sources/token_shards.py) instead of parquet "
             "(requires --tokenize)",
    )
    c.add_argument(
        "--partition-by", action="append",
        help="hive-partition the output corpus by these columns (repeatable)",
    )
    c.add_argument(
        "--overwrite", action="store_true",
        help="replace existing output directories instead of failing",
    )

    tl = sub.add_parser(
        "train-lm",
        help="fit a trigram Stupid-Backoff LM on a reference corpus and "
        "save it (lm.train_ngram_lm; feed to curate --ppl-model)",
    )
    tl.add_argument("-i", "--input", required=True, help="parquet of reference docs")
    tl.add_argument("-o", "--output", required=True, help="model output directory")
    tl.add_argument("--text-col", default="text")
    tl.add_argument(
        "--prune-min-count", type=int, default=1,
        help="drop bigrams/trigrams below this count (Brants-style "
        "cutoff; bounds the model for broadcast scoring)",
    )

    tq = sub.add_parser(
        "train-quality",
        help="fit the quality classifier on labeled docs and write the "
        "model JSON (classifier.fit_linear_classifier)",
    )
    tq.add_argument(
        "-i", "--input", required=True,
        help="parquet of labeled docs (text + 0/1 label column)",
    )
    tq.add_argument("-o", "--output", required=True, help="model JSON path")
    tq.add_argument("--text-col", default="text")
    tq.add_argument("--id-col", default="doc_id")
    tq.add_argument("--label-col", default="label")
    tq.add_argument(
        "--max-rows", type=int, default=100_000,
        help="deterministic md5-bucket cap on the driver-side fit sample",
    )

    se = sub.add_parser(
        "select",
        help="DSIR importance resampling: select docs whose hashed n-gram "
        "distribution matches a target corpus (operators/dsir.py)",
    )
    se.add_argument("-i", "--input", required=True, help="raw documents parquet")
    se.add_argument("--target", required=True, help="target-domain documents parquet")
    se.add_argument("-o", "--output", required=True, help="selected-docs parquet path")
    se.add_argument("-n", type=int, required=True, help="number of documents to select")
    se.add_argument("--text-col", default="text")
    se.add_argument("--id-col", default="doc_id")
    se.add_argument("--buckets", type=int, default=65_536)
    se.add_argument("--temperature", type=float, default=1.0)
    se.add_argument("--seed", type=int, default=0)
    se.add_argument(
        "--scores-out", default=None,
        help="also write every doc's (id, n_grams, dsir_logw) parquet here",
    )
    se.add_argument("--overwrite", action="store_true")

    tt = sub.add_parser(
        "train-tokenizer",
        help="fit a subword tokenizer on a documents table and write the "
        "model JSON (operators/bpe.py or operators/unigram.py)",
    )
    tt.add_argument("-i", "--input", required=True, help="documents parquet path")
    tt.add_argument("-o", "--output", required=True, help="tokenizer JSON path")
    tt.add_argument("--algo", choices=["bpe", "unigram"], default="bpe")
    tt.add_argument("--vocab-size", type=int, default=8192)
    tt.add_argument("--text-col", default="text")
    tt.add_argument(
        "--max-words", type=int, default=100_000,
        help="bound on the driver-side word-frequency table (top by count)",
    )
    tt.add_argument(
        "--pretok", choices=["whitespace", "gpt2"], default="whitespace",
        help="pre-tokenizer: lowercased whitespace words (classic) or "
             "case-preserving GPT-2-style pre-tokens (use for "
             "multilingual / unsegmented-script corpora)",
    )
    tt.add_argument(
        "--byte-fallback", action="store_true",
        help="reserve ids 1..256 for UTF-8 byte tokens and decompose "
             "unknown characters at encode time (gpt2 pretok only; "
             "encode becomes total, round-trip exact)",
    )

    mp = sub.add_parser(
        "media-profile",
        help="decode-profile a binary blob column (image or audio) with the "
        "real codecs (operators/multimodal.py, operators/audio.py)",
    )
    mp.add_argument("-i", "--input", required=True, help="parquet with (id, blob)")
    mp.add_argument("-o", "--output", required=True, help="profile parquet path")
    mp.add_argument("--kind", choices=["image", "audio"], required=True)
    mp.add_argument("--id-col", default="doc_id")
    mp.add_argument("--blob-col", default="blob")
    mp.add_argument("--overwrite", action="store_true")

    dc = sub.add_parser(
        "datacard",
        help="emit a corpus data card (composition/quality datasheet) as JSON",
    )
    dc.add_argument("-i", "--input", required=True, help="documents parquet path")
    dc.add_argument(
        "-o", "--output", default=None,
        help="write the JSON card here (default: stdout)",
    )
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--source-col", default="source")
    dc.add_argument("--lang-col", default="lang")
    dc.add_argument(
        "--kind", choices=["documents", "conversations", "pairs"],
        default="documents",
        help="corpus shape: flat documents (default), SFT conversations "
             "(conversation_card), or preference pairs (preference_card)",
    )

    rg = sub.add_parser(
        "prepare-rag",
        help="RAG corpus preparation: chunk documents, hash-embed, "
             "semantic-dedup against a persistent VectorStore, write "
             "surviving chunks, and index them into a saved segmented "
             "BM25 index — after it, `search --text-index ... --mmr` "
             "serves a diversified hybrid context window over exactly "
             "the deduplicated chunk set. Re-runs are increments.",
    )
    rg.add_argument("-i", "--input", required=True,
                    help="documents parquet (doc_id, text)")
    rg.add_argument("--store-path", required=True,
                    help="the VectorStore directory (created on first run)")
    rg.add_argument("--index-dir", required=True,
                    help="the segmented BM25 index directory")
    rg.add_argument("-o", "--output", default=None,
                    help="surviving-chunks parquet (append); omit to "
                         "only update store+index")
    rg.add_argument("--corpus-buckets", type=int, default=64,
                    help="doc-hash partition buckets for a NEW survivor "
                         "corpus (maintain --kind rag forgets rewrite "
                         "only doomed buckets); an existing corpus's "
                         "recorded layout wins")
    rg.add_argument("--max-tokens", type=int, default=256)
    rg.add_argument("--overlap", type=int, default=32)
    rg.add_argument("--hash-embed", type=int, default=256, metavar="DIM")
    rg.add_argument("--threshold", type=float, default=0.95)
    rg.add_argument("--cells", type=int, default=16,
                    help="first-run centroid count (frozen thereafter)")
    rg.add_argument("--vector-dtype",
                    choices=["float64", "float32", "pq"],
                    default="float64",
                    help="store creation dtype (an existing store's "
                         "meta wins)")
    rg.add_argument("--pq-m", type=int, default=8)
    rg.add_argument("--pq-k", type=int, default=256)
    rg.add_argument("--exact-guard", action="store_true",
                    help="at store creation: cross-retrain exact-resend "
                         "guard")
    rg.add_argument("--text-col", default="text")
    rg.add_argument("--id-col", default="doc_id")

    ps = sub.add_parser(
        "prepare-sft",
        help="prepare an SFT corpus from a conversations dump "
        "(sft.prepare_sft_corpus from the shell)",
    )
    ps.add_argument("-i", "--input", required=True,
                    help="conversations path (JSONL interchange or parquet)")
    ps.add_argument("--input-format", choices=["jsonl", "parquet"],
                    default="jsonl")
    ps.add_argument("-o", "--output", required=True,
                    help="output directory (rendered convs + spans, parquet)")
    ps.add_argument("--rejects-out", default=None,
                    help="write (conv_id, reason) rejects here")
    ps.add_argument("--corrupt-out", default=None,
                    help="write unreadable JSONL lines here (quarantine)")
    ps.add_argument("--template", choices=["chatml", "plain"], default="chatml")
    ps.add_argument("--allow-role", action="append", default=[],
                    metavar="ROLE", help="extra allowed role (repeatable)")
    ps.add_argument("--no-alternation", action="store_true",
                    help="drop the strict user/assistant alternation rule")
    ps.add_argument("--allow-user-last", action="store_true",
                    help="keep conversations ending on a user turn")
    ps.add_argument("--no-dedup", action="store_true")
    ps.add_argument("--dedup-store-table", default=None,
                    help="persistent hash-store table: this run dedups "
                         "against all previously-accepted conversations "
                         "and records its survivors (daily-drop mode; "
                         "store committed only after the output write)")
    ps.add_argument("--dedup-store-path", default=None)
    ps.add_argument("--dedup-store-buckets", type=int, default=64)
    ps.add_argument("--benchmark", default=None,
                    help="benchmark parquet: drop conversations sharing "
                         "n-grams with it (any turn's content screened)")
    ps.add_argument("--contamination-n", type=int, default=8)
    ps.add_argument("--vocab", default=None,
                    help="build_vocab parquet: also write token-level "
                         "(input_ids, loss_mask) arrays (encode_conversations)")
    ps.add_argument("--encoded-out", default=None,
                    help="where the encoded arrays go (default: OUTPUT/encoded)")
    ps.add_argument("--shuffle-seed", type=int, default=0)
    ps.add_argument("--no-audit", action="store_true")
    ps.add_argument(
        "--splits", type=parse_splits, default=None,
        metavar="train=0.98,val=0.01,test=0.01",
        help="deterministic hash_split on conv_id: one output "
             "sub-directory per split; encoded output covers the "
             "first-named split only",
    )
    ps.add_argument("--split-seed", type=int, default=0)

    pp = sub.add_parser(
        "prepare-pairs",
        help="prepare a preference-pair (DPO/reward) corpus "
        "(preference.prepare_preference_corpus from the shell)",
    )
    pp.add_argument("-i", "--input", required=True,
                    help="pairs path (JSONL prompt/chosen/rejected or parquet)")
    pp.add_argument("--input-format", choices=["jsonl", "parquet"],
                    default="jsonl")
    pp.add_argument("-o", "--output", required=True,
                    help="output directory (rendered pairs, parquet)")
    pp.add_argument("--rejects-out", default=None)
    pp.add_argument("--corrupt-out", default=None)
    pp.add_argument("--template", choices=["chatml", "plain"], default="chatml")
    pp.add_argument("--no-dedup", action="store_true")
    pp.add_argument("--dedup-store-table", default=None,
                    help="persistent hash-store table for cross-drop "
                         "pair dedup (committed after the output write)")
    pp.add_argument("--dedup-store-path", default=None)
    pp.add_argument("--dedup-store-buckets", type=int, default=64)
    pp.add_argument("--keep-contradictions", action="store_true",
                    help="keep both sides of opposite-orientation pairs")
    pp.add_argument("--max-per-prompt", type=int, default=None,
                    help="cap pairs per canonical prompt (skew-robust top-k)")
    pp.add_argument("--benchmark", default=None,
                    help="benchmark parquet: drop pairs sharing n-grams "
                         "with it (prompt + both responses screened)")
    pp.add_argument("--contamination-n", type=int, default=8)
    pp.add_argument("--shuffle-seed", type=int, default=0)
    pp.add_argument("--no-audit", action="store_true")
    pp.add_argument("--from-ratings", action="store_true",
                    help="input is the scored-response interchange (one "
                         "row per prompt/response/rating) — convert via "
                         "pairs_from_ratings before preparation")
    pp.add_argument("--response-col", default="response")
    pp.add_argument("--rating-col", default="rating")
    pp.add_argument("--rating-policy",
                    choices=["best_vs_worst", "all_pairs"],
                    default="best_vs_worst")
    pp.add_argument("--rating-margin", type=float, default=0.0,
                    help="emit a pair only when the rating delta is "
                         "STRICTLY greater than this (0.0 drops ties)")
    pp.add_argument(
        "--splits", type=parse_splits, default=None,
        metavar="train=0.98,val=0.01,test=0.01",
        help="deterministic hash_split on pair_id: one output "
             "sub-directory per split",
    )
    pp.add_argument("--split-seed", type=int, default=0)

    ig = sub.add_parser(
        "ingest",
        help="drop-directory streaming ingest: consume files landing in "
             "an input directory through the matching restart-safe "
             "incremental pipeline (WET crawl / SFT conversations / "
             "preference pairs / semantic documents / plain docs), dedup "
             "against the persistent store, append survivors to the "
             "output; --kind index instead feeds the drops into a saved "
             "segmented BM25 index (exactly-once segment commits — a "
             "drop is searchable as soon as its manifest commits) "
             "(streaming/ingest.py). Default drains what is present and "
             "exits (scheduler-friendly); --processing-time runs "
             "always-on.",
    )
    ig.add_argument("--kind", required=True,
                    choices=["wet", "sft", "pairs", "semantic", "docs",
                             "index", "rag"])
    ig.add_argument("--doc-dedup", choices=["exact", "fuzzy"],
                    default="exact",
                    help="docs: dedup semantics — exact content hashes "
                         "(ExactHashStore via --store-table) or MinHash "
                         "near-dup (SignatureStore via --store-path)")
    ig.add_argument("--fuzzy-threshold", type=float, default=0.5,
                    help="docs --doc-dedup fuzzy: estimated-Jaccard "
                         "rejection threshold")
    ig.add_argument("-i", "--input-dir", required=True,
                    help="the drop directory (glob patterns allowed)")
    ig.add_argument("-o", "--output", required=True,
                    help="survivor parquet directory (append)")
    ig.add_argument("--checkpoint-dir", required=True,
                    help="file-stream checkpoint (remembers consumed "
                         "files across restarts)")
    ig.add_argument("--store-table", default=None,
                    help="wet/sft/pairs: the ExactHashStore catalog "
                         "table carrying dedup history")
    ig.add_argument("--store-path", default=None,
                    help="semantic: the VectorStore directory "
                         "(wet/sft/pairs: optional external table location)")
    ig.add_argument("--store-buckets", type=int, default=64)
    ig.add_argument("--vector-dtype",
                    choices=["float64", "float32", "pq"],
                    default="float64",
                    help="semantic: on-disk vector representation at "
                         "store creation — float32 halves bytes, pq "
                         "stores 8-32x-smaller quantized codes (an "
                         "existing store keeps its own)")
    ig.add_argument("--corrupt-out", default=None,
                    help="quarantine unreadable files/lines here")
    ig.add_argument("--rejects-out", default=None,
                    help="sft/pairs: invalid records with reasons; "
                         "semantic: (dup_id, kept_id, est) dup evidence")
    ig.add_argument("--template", choices=["chatml", "plain"],
                    default="chatml", help="sft/pairs render template")
    ig.add_argument("--keep-contradictions", action="store_true",
                    help="pairs: keep both sides of opposite-orientation "
                         "pairs within a drop")
    ig.add_argument("--path-glob", default="*",
                    help="wet: filename filter within the drop directory")
    ig.add_argument("--text-col", default="text")
    ig.add_argument("--id-col", default="doc_id")
    ig.add_argument("--vec-col", default="embedding",
                    help="semantic: vector column on the drops (ignored "
                         "with --hash-embed)")
    ig.add_argument("--semantic-threshold", type=float, default=0.95)
    ig.add_argument("--semantic-cells", type=int, default=16)
    ig.add_argument("--semantic-max-cell", type=int, default=50_000,
                    help="semantic: per-cell combined new+stored bound "
                         "(past it the increment raises with retrain "
                         "guidance) — the drift tripwire an always-on "
                         "daemon needs tunable without code")
    ig.add_argument("--pq-m", type=int, default=8,
                    help="semantic --vector-dtype pq: codes per vector "
                         "at store CREATION (clamped to a divisor of "
                         "the dim; the bytes/accuracy dial)")
    ig.add_argument("--pq-k", type=int, default=256,
                    help="semantic --vector-dtype pq: codewords per "
                         "subspace at store creation")
    ig.add_argument("--exact-guard", action="store_true",
                    help="semantic, at store creation: global "
                         "exact-resend hash guard (survives retrains)")
    ig.add_argument("--hash-embed", type=int, default=None, metavar="DIM",
                    help="semantic: compute hashing-trick embeddings from "
                         "--text-col instead of reading --vec-col "
                         "(rag: chunk-embedding dims, default 256)")
    ig.add_argument("--index-dir", default=None,
                    help="rag: the saved segmented BM25 index directory "
                         "the surviving chunks are appended into")
    ig.add_argument("--chunk-tokens", type=int, default=256,
                    help="rag: chunk budget in whitespace tokens")
    ig.add_argument("--chunk-overlap", type=int, default=32,
                    help="rag: overlapping tokens between chunks")
    ig.add_argument("--corpus-buckets", type=int, default=64,
                    help="rag: doc-hash partition buckets for a NEW "
                         "survivor corpus (forgets rewrite only doomed "
                         "buckets); an existing corpus's layout wins")
    ig.add_argument("--replace", action="store_true",
                    help="rag: each drop REPLACES its doc ids — forget "
                         "them across store/index/corpus before "
                         "ingesting (the corrected-document inbox; "
                         "one-call upsert semantics)")
    ig.add_argument("--schema", default=None, metavar="DDL",
                    help="semantic/docs: drop-file schema as a DDL "
                         "string, e.g. 'doc_id long, text string' — "
                         "required to start an always-on daemon before "
                         "the first parquet drop lands (without it the "
                         "schema is inferred from files already present)")
    ig.add_argument("--processing-time", default=None, metavar="INTERVAL",
                    help="always-on mode, e.g. '1 minute' (default: drain "
                         "what is present and exit)")
    ig.add_argument("--await-seconds", type=float, default=None,
                    help="upper bound on how long to block (drain mode "
                         "defaults to blocking until drained)")

    mt = sub.add_parser(
        "maintain",
        help="persistent-store maintenance: stats / compact / retrain / "
             "balance — the scheduled companion of a daily increment "
             "pipeline (small-file compaction, drift checks, centroid "
             "retraining); prints one JSON report line",
    )
    mt.add_argument(
        "--kind", required=True,
        choices=["exact", "signature", "vector", "window", "text-index",
                 "rag"],
        help="exact=ExactHashStore (content hashes), signature="
             "SignatureStore (MinHash bands), vector=VectorStore "
             "(embedding cells), window=WindowHashStore (span windows), "
             "text-index=segmented BM25 index, rag=the RAG chain's "
             "three artifacts as one unit (vector store + BM25 index "
             "+ optional survivor corpus: stats, compact, and "
             "whole-document delete)",
    )
    mt.add_argument("--store-table", default=None,
                    help="exact: the hash-store catalog table name")
    mt.add_argument("--store-path", default=None,
                    help="signature/vector/window/text-index: the store "
                         "directory (exact: optional external location)")
    mt.add_argument("--buckets", type=int, default=64,
                    help="exact: the store's bucket count")
    mt.add_argument(
        "--action",
        choices=["stats", "compact", "retrain", "balance", "delete"],
        default="stats",
        help="stats = sizing/trigger inputs (no rewrite); compact = "
             "rewrite append piles into sized files (text-index: "
             "merges every committed segment into one); retrain "
             "(vector) = "
             "re-fit centroids + re-bucket history; balance (vector) = "
             "cell-occupancy drift check (retrain_recommended); delete "
             "= retention/right-to-be-forgotten removal (signature/"
             "vector/text-index: --delete-ids; exact: --delete-docs "
             "or --delete-hashes)",
    )
    mt.add_argument("--delete-ids", default=None, metavar="PARQUET",
                    help="delete (signature/vector/text-index): parquet "
                         "of ids to forget (one column, or an "
                         "id/neighbor_id column); rag: parquet of PARENT "
                         "doc ids — the doomed chunk ids are derived "
                         "from the composite chunk-id scheme")
    mt.add_argument("--index-dir", default=None,
                    help="rag: the chain's saved BM25 index directory")
    mt.add_argument("--corpus-dir", default=None,
                    help="rag delete: also rewrite the survivor-chunk "
                         "parquet directory (optional third artifact)")
    mt.add_argument("--corpus-buckets", type=int, default=None,
                    help="rag compact: re-bucket the survivor corpus to "
                         "this doc-hash bucket count (required to "
                         "recover a corpus that lost its "
                         "_corpus_meta.json sidecar; size as "
                         "corpus_bytes / target-rewrite-bytes — each "
                         "forget rewrites the doomed docs' whole "
                         "buckets)")
    mt.add_argument("--id-col", default="doc_id",
                    help="rag compact: the survivor corpus' parent-doc "
                         "id column, the bucket-by key for a layout "
                         "migration")
    mt.add_argument("--delete-docs", default=None, metavar="PARQUET",
                    help="delete (exact): parquet of documents whose "
                         "content hashes to forget (--text-col)")
    mt.add_argument("--delete-hashes", default=None, metavar="PARQUET",
                    help="delete (exact): parquet of (h1, h2) content "
                         "hashes to forget")
    mt.add_argument("--text-col", default="text",
                    help="delete (exact): text column of --delete-docs")
    mt.add_argument("--n-cells", type=int, default=None,
                    help="retrain: the new centroid count")
    mt.add_argument("--sample-fraction", type=float, default=None,
                    help="retrain: fit KMeans on a sample of the stored "
                         "vectors (recommended at 1e9+ rows)")
    mt.add_argument("--target-file-bytes", type=int, default=128 << 20)
    mt.add_argument("--when-files-over", type=int, default=None,
                    help="compact only when the store holds more than this "
                         "many files — makes an aggressive maintenance "
                         "schedule a cheap no-op between real pile-ups")
    mt.add_argument("--when-recommended", action="store_true",
                    help="retrain (vector) only when ivf_balance says "
                         "retrain_recommended — the scheduled form: a "
                         "nightly 'maintain --action retrain "
                         "--when-recommended' pays one cell-count groupBy "
                         "until drift actually warrants the rebuild")
    mt.add_argument("--hot-cell-factor", type=float, default=4.0,
                    help="--when-recommended: max-cell/mean trigger ratio")
    mt.add_argument("--max-empty-frac", type=float, default=0.25,
                    help="--when-recommended: empty-cell fraction trigger")

    sr = sub.add_parser(
        "search",
        help="query a persistent store without mutating it. vector "
             "(default): ANN top-k — the dedup store doubles as the "
             "retrieval index (float stores: pruned exact cosine; pq "
             "stores: ADC over the code table, with optional exact "
             "re-ranking against a raw-embedding parquet; "
             "--text-index: hybrid BM25+ANN RRF). signature: near-dup "
             "probe (query_id, stored_id, est) — 'what does this "
             "duplicate against?'. exact: content membership (id, "
             "is_stored). Writes a result parquet and prints one JSON "
             "summary line.",
    )
    sr.add_argument("--kind", default="vector",
                    choices=["vector", "signature", "exact"])
    sr.add_argument("--store-path", default=None,
                    help="vector/signature: the store directory")
    sr.add_argument("--store-table", default=None,
                    help="exact: the hash-store catalog table name")
    sr.add_argument("--buckets", type=int, default=64,
                    help="exact: the store's bucket count")
    sr.add_argument("--text-col", default="text",
                    help="signature/exact: text column of the queries "
                         "parquet")
    sr.add_argument("--threshold", type=float, default=0.5,
                    help="signature: estimated-Jaccard floor")
    sr.add_argument("--num-perm", type=int, default=128,
                    help="signature: must match the store's scheme")
    sr.add_argument("--bands", type=int, default=32,
                    help="signature: must match the store's scheme")
    sr.add_argument("--shingle-k", type=int, default=5,
                    help="signature: must match the store's scheme")
    sr.add_argument("--max-bucket", type=int, default=1000,
                    help="signature: drop (band,bucket) groups with "
                         "more stored members (template guard); "
                         "0 disables")
    sr.add_argument("-q", "--queries", required=True,
                    help="query parquet with --id-col/--vec-col columns")
    sr.add_argument("-o", "--output", required=True,
                    help="result parquet (overwritten)")
    sr.add_argument("-k", type=int, default=5)
    sr.add_argument("--n-probe", type=int, default=4,
                    help="cells probed per query (of the store's "
                         "n_cells; higher = better recall, more scan)")
    sr.add_argument("--id-col", default=None,
                    help="query id column (default: vec_id for vector, "
                         "doc_id for signature/exact)")
    sr.add_argument("--vec-col", default="embedding")
    sr.add_argument("--rerank", type=int, default=None,
                    help="pq stores: ADC shortlist size to rescore "
                         "exactly against --corpus (IVFADC+R)")
    sr.add_argument("--corpus", default=None, metavar="PARQUET",
                    help="raw-embedding table for --rerank (the store "
                         "holds only codes)")
    sr.add_argument("--text-index", default=None, metavar="DIR",
                    help="hybrid mode: a saved BM25 index "
                         "(save_text_index dir); queries parquet then "
                         "also needs --query-text-col, and the result "
                         "is the reciprocal-rank fusion of BM25 and "
                         "store-ANN top-depth lists")
    sr.add_argument("--query-text-col", default="query",
                    help="hybrid: text column in the queries parquet")
    sr.add_argument("--depth", type=int, default=None,
                    help="hybrid: per-retriever candidate depth "
                         "(default max(2k, 10))")
    sr.add_argument("--k-rrf", type=int, default=60,
                    help="hybrid: RRF constant (score = sum of "
                         "w/(k_rrf + rank))")
    sr.add_argument("--weights", default="1,1", metavar="WTEXT,WVEC",
                    help="hybrid: comma-separated BM25,vector fusion "
                         "weights")
    sr.add_argument("--mmr", type=int, default=None, metavar="K",
                    help="vector/hybrid: MMR-diversify the shortlist "
                         "down to K results per query (Carbonell & "
                         "Goldstein); a FLOAT store serves its own "
                         "candidate vectors — pq stores (codes only) "
                         "need --corpus for the diversity term")
    sr.add_argument("--mmr-lambda", type=float, default=0.5,
                    help="--mmr relevance/diversity tradeoff in [0,1] "
                         "(1 = input ranking)")
    sr.add_argument("--allow-recon", action="store_true",
                    help="--mmr on a pq store without --corpus: serve "
                         "PQ reconstructions as the diversity vectors "
                         "(diversity-grade approximation — exact "
                         "relevance ranks are unaffected)")
    return p


def _dump(args, spark) -> None:
    from xdump_spark.framework import JdbcBackend, run_dump

    if args.jdbc_url:
        db = JdbcBackend(
            spark, args.jdbc_url, user=args.jdbc_user,
            password=args.jdbc_password, driver=args.jdbc_driver,
            stage_dir=args.stage_dir, tables=args.jdbc_tables or None,
        )
    else:
        db = args.backend(spark, args.input_db)
    counts = run_dump(
        spark, db, args.output,
        since=args.since,
        full_tables=args.full_tables,
        partial_tables=dict(args.partial),
        dump_schema=not args.no_schema,
        dump_data=not args.no_data,
        compression=args.compression,
    )
    for table in sorted(counts):
        print(f"{table}: {counts[table]} rows")
    print(f"wrote {args.output}")


def _load(args, spark) -> None:
    from xdump_spark.framework import JdbcBackend, run_load

    if args.jdbc_url:
        db = JdbcBackend(
            spark, args.jdbc_url, user=args.jdbc_user,
            password=args.jdbc_password, driver=args.jdbc_driver,
        )
    else:
        db = args.backend(spark, args.output_db)
    order = run_load(spark, db, args.input, cleanup_method=args.cleanup_method)
    print(f"loaded tables (FK order): {', '.join(order)}")


def _flags(args) -> dict:
    """A subcommand's own flags: the parsed arguments without the ones
    ``run`` reads."""
    return {k: v for k, v in vars(args).items()
            if k not in ("command", "verbosity", "backend")}


# curate flags that fill one object of the curate request: object key →
# flag groups, each {flag dest: object key}. A group counts only when its
# first flag is given; the other flags of a group are ignored without it.
_CURATE_OBJECTS = {
    "dedup_store": (
        {"dedup_store_table": "table", "dedup_store_path": "path",
         "dedup_store_buckets": "n_buckets"},
        {"neardup_store": "path"},
        {"vector_store": "path", "vector_dtype": "dtype", "pq_m": "pq_m",
         "pq_k": "pq_k", "exact_guard": "exact_guard"},
    ),
    "embeddings": ({"embeddings": "path", "embeddings_id_col": "id_col"},),
}

# curate flags named otherwise in the curate request
_CURATE_RENAMED = {"seed": "shuffle_seed", "quality_min": "quality_score_min"}


def _curate_request(args) -> dict:
    """The curate flags as a curate request (``config.run_curate``): the
    same keys a curate config file holds, and only those of given flags."""
    req = _flags(args)
    if req.get("embeddings") and req.get("hash_embed"):
        raise SystemExit(
            "--embeddings and --hash-embed are mutually exclusive "
            "(one embedding source)"
        )
    if (req.get("embeddings") or req.get("hash_embed")) and req.get("doc_dedup") != "semantic":
        # without the guard, --embeddings' INNER join would silently
        # drop every doc missing a vector from a run that never uses
        # the vectors
        raise SystemExit("--embeddings/--hash-embed require --doc-dedup semantic")
    if req.get("shards_format") == "binary" and req.get("shards_out") and not req.get("tokenize"):
        raise SystemExit(
            "--shards-format binary requires --tokenize "
            "(doc-id packs have no token ids to binarize)"
        )
    for key, groups in _CURATE_OBJECTS.items():
        objs = [{k: req.pop(f) for f, k in g.items() if f in req}
                for g in groups if next(iter(g)) in req]
        for flag in (f for g in groups for f in g):
            req.pop(flag, None)
        if len(objs) > 1:
            raise SystemExit(
                "--dedup-store-table, --neardup-store and --vector-store are "
                "mutually exclusive (one dedup stage, one store)"
            )
        if objs:
            req[key] = objs[0]
    n_cells = req.pop("semantic_cells")
    if req.get("doc_dedup") == "semantic":
        req["semantic_kwargs"] = {"n_cells": n_cells}
    for flag, key in _CURATE_RENAMED.items():
        if flag in req:
            req[key] = req.pop(flag)
    for flag, key in (("sample", "sample_rates"), ("mixture", "target_mixture")):
        if flag in req:
            req[key] = dict(req.pop(flag))
    for flag, key in (("no_audit", "audit"), ("no_resume", "resume")):
        if req.pop(flag, False):
            req[key] = False
    if "checkpoint_stages" in req:
        req["checkpoint_stages"] = [
            s.strip() for s in req["checkpoint_stages"].split(",") if s.strip()
        ]
    if "blocklist" in req:
        req["blocklist"] = [
            line.strip()
            for line in Path(req["blocklist"]).read_text().splitlines()
            if line.strip()
        ]
    return req


def _curate(args, spark) -> None:
    from xdump_spark.config import run_curate

    res = run_curate(spark, _curate_request(args))
    for stage, n in res.audit.items():
        print(f"{stage}: {n} docs")
    if res.resumed:
        print(f"resumed from checkpoint: {', '.join(res.resumed)}")
    if res.mixture_rates is not None:
        print(f"mixture rates: {res.mixture_rates}")
    print(f"wrote {args.output}")


def _index_report(spark, index_dir: str) -> dict:
    """``text_index_stats`` of a saved BM25 index; an empty report when a
    zero-batch drain on a fresh deployment never created the index."""
    from xdump_spark import fsutil
    from xdump_spark.operators.retrieval import _INDEX_MANIFEST, text_index_stats

    if fsutil.exists_atomic(spark, fsutil.join(index_dir, _INDEX_MANIFEST)):
        return text_index_stats(spark, index_dir)
    return {"segments": 0, "n_docs": 0, "files": 0, "bytes": 0}


def _ingest(args, spark) -> None:
    import json as _json

    from xdump_spark import fsutil
    from xdump_spark.streaming.ingest import run_ingest

    # the ingest flags are named after run_ingest's parameters
    q = run_ingest(spark, **_flags(args))
    if args.processing_time:
        # always-on: report and block (the scheduler owns the kill);
        # --await-seconds turns it into a bounded run that stops
        # cleanly after the wait (run_ingest already waited it out)
        print(_json.dumps({"kind": args.kind, "mode": "always-on"}))
        if args.await_seconds is not None:
            q.stop()
        else:
            q.awaitTermination()
        return
    # drained: the output count is parquet footer metadata only.
    # run_ingest stopped the query before returning even when
    # --await-seconds expired first, so the count is final; "drained"
    # reports whether the drop was fully consumed (False = the bound
    # cut it short; re-run resumes from the checkpoint)
    rpt = {
        "kind": args.kind,
        "mode": "drain",
        "drained": bool(getattr(q, "xd_drained", True)),
    }
    if args.kind == "index":
        # the output is the INDEX directory (postings + term_stats +
        # manifest), not a row corpus
        rpt.update(_index_report(spark, args.output))
    else:
        rpt["output_rows"] = (
            spark.read.parquet(args.output).count()
            if fsutil.exists(spark, args.output)
            else 0
        )
        if args.kind == "rag":
            # the second artifact: the BM25 index of the survivor chunks
            rpt["index"] = _index_report(spark, args.index_dir)
    print(_json.dumps(rpt))


def _train_lm(args, spark) -> None:
    from xdump_spark.operators.lm import save_ngram_lm, train_ngram_lm

    docs = spark.read.parquet(args.input)
    model = train_ngram_lm(
        docs, text_col=args.text_col, prune_min_count=args.prune_min_count
    )
    save_ngram_lm(model, args.output)
    print(
        f"wrote {args.output} (N={model.n_tokens} tokens, "
        f"V={model.vocab_size} types)"
    )


def _train_quality(args, spark) -> None:
    import json

    from pyspark.sql import functions as F

    from xdump_spark.operators.classifier import (
        fit_linear_classifier,
        quality_feature_frame,
    )

    docs = spark.read.parquet(args.input)
    if args.label_col not in docs.columns:
        raise SystemExit(f"label column {args.label_col!r} not in {args.input}")
    feats = quality_feature_frame(
        docs, text_col=args.text_col, id_col=args.id_col
    ).join(
        docs.select(args.id_col, F.col(args.label_col).alias("label")),
        args.id_col,
    )
    model = fit_linear_classifier(
        feats, id_col=args.id_col, max_rows=args.max_rows
    )
    with open(args.output, "w") as fh:
        json.dump(model.to_dict(), fh, indent=2)
    print(f"wrote {args.output} (features: {', '.join(model.features)})")


def _select(args, spark) -> None:
    from xdump_spark.operators.dsir import dsir_resample, dsir_score, fit_dsir

    raw = spark.read.parquet(args.input)
    target = spark.read.parquet(args.target)
    model = fit_dsir(
        target, raw, text_col=args.text_col, num_buckets=args.buckets
    )
    mode = "overwrite" if args.overwrite else "errorifexists"
    if args.scores_out:
        dsir_score(raw, model, args.text_col, args.id_col).write.mode(
            mode
        ).parquet(args.scores_out)
        print(f"wrote scores to {args.scores_out}")
    picked = dsir_resample(
        raw, model, n=args.n, text_col=args.text_col, id_col=args.id_col,
        temperature=args.temperature, seed=args.seed,
    )
    out = raw.join(picked.select(args.id_col), args.id_col, "left_semi")
    out.write.mode(mode).parquet(args.output)
    # count the WRITTEN parquet (footer metadata — no recompute of the
    # scoring/top-n job, which an uncached picked.count() would redo)
    n_sel = spark.read.parquet(args.output).count()
    print(f"selected {n_sel} of {raw.count()} docs -> {args.output}")


def _train_tokenizer(args, spark) -> None:
    import json

    docs = spark.read.parquet(args.input)
    if args.algo == "bpe":
        from xdump_spark.operators.bpe import bpe_train

        tok = bpe_train(
            docs, vocab_size=args.vocab_size, text_col=args.text_col,
            max_words=args.max_words, pretok=args.pretok,
            byte_fallback=args.byte_fallback,
        )
        size = len(tok.vocab)
    else:
        from xdump_spark.operators.unigram import unigram_train

        tok = unigram_train(
            docs, vocab_size=args.vocab_size, text_col=args.text_col,
            max_words=args.max_words, pretok=args.pretok,
            byte_fallback=args.byte_fallback,
        )
        size = len(tok.pieces)
    with open(args.output, "w") as fh:
        json.dump({"algo": args.algo, **tok.to_dict()}, fh)
    print(f"wrote {args.output} ({args.algo}, {size} entries)")


def _media_profile(args, spark) -> None:
    from pyspark.sql import functions as F

    media = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.blob_col).alias("blob")
    )
    if args.kind == "image":
        from xdump_spark.operators.multimodal import decode_blobs

        prof = decode_blobs(media, use_real_codec=True)
    else:
        from xdump_spark.operators.audio import decode_audio

        prof = decode_audio(media)
    mode = "overwrite" if args.overwrite else "errorifexists"
    prof.write.mode(mode).parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"profiled {n} blobs -> {args.output}")


def _datacard(args, spark) -> None:
    import json

    from xdump_spark.operators.datacard import (
        conversation_card,
        data_card,
        preference_card,
    )

    frame = spark.read.parquet(args.input)
    kind = getattr(args, "kind", "documents")
    if kind == "conversations":
        card = conversation_card(frame)
    elif kind == "pairs":
        card = preference_card(frame)
    else:
        card = data_card(
            frame,
            text_col=args.text_col,
            id_col=args.id_col,
            source_col=args.source_col,
            lang_col=args.lang_col,
        )
    payload = json.dumps(card, indent=2, sort_keys=True)
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(payload + "\n")
        print(f"wrote {args.output}")
    else:
        print(payload)


def _prepare_rag(args, spark) -> None:
    import json as _json

    from xdump_spark.operators.incremental import VectorStore
    from xdump_spark.pipeline import prepare_rag_corpus

    store = VectorStore(
        spark, args.store_path, dtype=args.vector_dtype,
        pq_m=args.pq_m, pq_k=args.pq_k,
        exact_guard=args.exact_guard,
    )
    res = prepare_rag_corpus(
        spark.read.parquet(args.input), store, args.index_dir,
        out_dir=args.output, text_col=args.text_col,
        id_col=args.id_col, max_tokens=args.max_tokens,
        overlap=args.overlap, hash_embed_dim=args.hash_embed,
        threshold=args.threshold, n_cells=args.cells,
        corpus_buckets=args.corpus_buckets,
    )
    print(_json.dumps({
        "audit": res.audit,
        "index_entry": res.index_entry,
        "store": args.store_path,
        "index": args.index_dir,
    }))


def _hash_store(args, spark):
    """The --dedup-store-* flags of prepare-sft / prepare-pairs as an
    ExactHashStore (None without --dedup-store-table)."""
    if not args.dedup_store_table:
        return None
    from xdump_spark.operators.incremental import ExactHashStore

    return ExactHashStore(
        spark, args.dedup_store_table,
        n_buckets=args.dedup_store_buckets, path=args.dedup_store_path,
    )


def _write_prepared(res, frame, args) -> None:
    """Write a prepare-sft / prepare-pairs result: one sub-directory per
    split (or the whole frame), then the store commit, then the rejects."""
    if res.splits is not None:
        for name, f in res.splits.items():
            f.write.mode("overwrite").parquet(os.path.join(args.output, name))
    else:
        frame.write.mode("overwrite").parquet(args.output)
    if res.store_commit is not None:
        res.store_commit()  # only after the output is durably written
    if args.rejects_out:
        res.rejects.write.mode("overwrite").parquet(args.rejects_out)


def _prepare_sft(args, spark) -> None:
    from xdump_spark.operators import sft

    if args.input_format == "jsonl":
        convs, corrupt = sft.read_conversations_jsonl(spark, args.input)
        if args.corrupt_out:
            corrupt.write.mode("overwrite").parquet(args.corrupt_out)
    else:
        convs = spark.read.parquet(args.input)
    vocab = spark.read.parquet(args.vocab) if args.vocab else None
    res = sft.prepare_sft_corpus(
        convs,
        template=args.template,
        allowed_roles=sft.DEFAULT_ROLES + tuple(args.allow_role),
        require_alternation=not args.no_alternation,
        require_assistant_last=not args.allow_user_last,
        dedup=not args.no_dedup,
        dedup_store=_hash_store(args, spark),
        benchmark=(
            spark.read.parquet(args.benchmark) if args.benchmark else None
        ),
        contamination_n=args.contamination_n,
        shuffle_seed=args.shuffle_seed,
        splits=args.splits,
        split_seed=args.split_seed,
        audit=not args.no_audit,
        vocab=vocab,
    )
    _write_prepared(res, res.convs, args)
    if res.encoded is not None:
        enc_out = args.encoded_out or os.path.join(args.output, "encoded")
        res.encoded.write.mode("overwrite").parquet(enc_out)
        print(f"wrote {enc_out} (token ids + loss masks)")
    for stage, n in res.audit.items():
        print(f"{stage}: {n}")
    print(f"wrote {args.output}")


def _prepare_pairs(args, spark) -> None:
    from xdump_spark.operators import preference

    if args.input_format == "jsonl":
        pairs, corrupt = preference.read_preference_jsonl(
            spark, args.input,
            schema=(
                preference.RATINGS_SCHEMA if args.from_ratings else None
            ),
        )
        if args.corrupt_out:
            corrupt.write.mode("overwrite").parquet(args.corrupt_out)
    else:
        pairs = spark.read.parquet(args.input)
    res = preference.prepare_preference_corpus(
        pairs,
        template=args.template,
        dedup=not args.no_dedup,
        dedup_store=_hash_store(args, spark),
        drop_contradictions=not args.keep_contradictions,
        max_per_prompt=args.max_per_prompt,
        benchmark=(
            spark.read.parquet(args.benchmark) if args.benchmark else None
        ),
        contamination_n=args.contamination_n,
        shuffle_seed=args.shuffle_seed,
        audit=not args.no_audit,
        from_ratings=args.from_ratings,
        response_col=args.response_col,
        rating_col=args.rating_col,
        rating_policy=args.rating_policy,
        rating_margin=args.rating_margin,
        splits=args.splits,
        split_seed=args.split_seed,
    )
    _write_prepared(res, res.pairs, args)
    for stage, n in res.audit.items():
        print(f"{stage}: {n}")
    if res.length_bias is not None:
        print(
            "length_bias: "
            f"frac_chosen_longer={res.length_bias['frac_chosen_longer']:.3f} "
            f"mean_token_delta={res.length_bias['mean_token_delta']:.2f}"
        )
    print(f"wrote {args.output}")


def _search(args, spark) -> None:
    import json as _json

    from xdump_spark.operators.incremental import VectorStore

    if args.id_col is None:
        args.id_col = "vec_id" if args.kind == "vector" else "doc_id"
    if args.kind == "signature":
        from xdump_spark.operators.incremental import SignatureStore

        if not args.store_path:
            raise SystemExit("--kind signature needs --store-path")
        sig = SignatureStore(spark, args.store_path)
        res = sig.probe(
            spark.read.parquet(args.queries),
            text_col=args.text_col, id_col=args.id_col,
            threshold=args.threshold, num_perm=args.num_perm,
            bands=args.bands, shingle_k=args.shingle_k,
            max_bucket=args.max_bucket or None,
        )
        res.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(_json.dumps({
            "kind": "signature", "store": args.store_path,
            "threshold": args.threshold, "rows": n,
        }))
        return
    if args.kind == "exact":
        from xdump_spark.operators.incremental import ExactHashStore

        if not args.store_table:
            raise SystemExit("--kind exact needs --store-table")
        ex = ExactHashStore(
            spark, args.store_table, n_buckets=args.buckets,
            path=args.store_path,
        )
        res = ex.contains(
            spark.read.parquet(args.queries),
            text_col=args.text_col, id_col=args.id_col,
        )
        res.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        print(_json.dumps({
            "kind": "exact", "store": args.store_table,
            "rows": out.count(),
            "stored": out.filter("is_stored").count(),
        }))
        return
    if not args.store_path:
        raise SystemExit("--kind vector needs --store-path")
    store = VectorStore(spark, args.store_path)
    if not store.exists():
        raise SystemExit(f"no VectorStore at {args.store_path}")
    queries = spark.read.parquet(args.queries)
    mmr_vecs = None
    if args.mmr is not None:
        if args.corpus:
            mmr_vecs = spark.read.parquet(args.corpus)
        else:
            # r12: a FLOAT store serves its own diversity vectors
            # (the RAG front door's layout needs no side table);
            # pq stores hold only codes — --allow-recon (r13) opts
            # into PQ reconstructions for the diversity term,
            # otherwise they still need --corpus
            try:
                mmr_vecs = store.vectors(
                    id_col=args.id_col, vec_col=args.vec_col,
                    reconstructed=args.allow_recon,
                )
            except ValueError as e:
                # the store's own message carries the right advice
                # (--corpus vs --allow-recon vs empty store) — a
                # fixed '--corpus' prefix would mislead the
                # --allow-recon-on-empty-store case
                raise SystemExit(f"search --mmr: {e}")
    if args.text_index:
        if args.rerank is not None or (
            args.corpus and args.mmr is None
        ):
            raise SystemExit(
                "--rerank/--corpus apply to pure ANN search; the "
                "hybrid path fuses raw ranks (use a float store or "
                "accept ADC ranks on the vector side). --corpus "
                "with --mmr is the exception: it supplies the "
                "diversity vectors."
            )
        from xdump_spark.operators.retrieval import (
            hybrid_topk,
            load_text_index,
        )

        idx = load_text_index(spark, args.text_index)
        try:
            weights = tuple(
                float(w) for w in args.weights.split(",")
            )
        except ValueError:
            raise SystemExit(f"bad --weights {args.weights!r}")
        if len(weights) != 2:
            raise SystemExit("--weights needs exactly two numbers")
        res = hybrid_topk(
            idx, store, queries, k=args.k, depth=args.depth,
            k_rrf=args.k_rrf, weights=weights,
            query_id_col=args.id_col,
            query_text_col=args.query_text_col,
            query_vec_col=args.vec_col, n_probe=args.n_probe,
        )
    else:
        corpus = (
            spark.read.parquet(args.corpus) if args.corpus else None
        )
        res = store.search(
            queries, k=args.k, n_probe=args.n_probe,
            id_col=args.id_col, vec_col=args.vec_col,
            rerank=args.rerank, corpus=corpus,
        )
    if args.mmr is not None:
        from xdump_spark.operators.retrieval import mmr_rerank

        id_col = res.columns[1]      # doc_id | neighbor_id
        score_col = res.columns[2]   # rrf_score | cosine_sim | pq_sim
        res = mmr_rerank(
            res, mmr_vecs, k=args.mmr,
            lam=args.mmr_lambda, id_col=id_col, score_col=score_col,
            vec_id_col=args.id_col, vec_col=args.vec_col,
        )
    res.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    score_col = res.columns[2]  # cosine_sim | pq_sim | rrf_score | mmr_score
    print(_json.dumps({
        "store": args.store_path, "k": args.k,
        "n_probe": args.n_probe, "score": score_col, "rows": n,
    }))


def _maintain(args, spark) -> None:
    import json as _json

    if args.kind == "exact":
        if not args.store_table:
            raise SystemExit("--kind exact needs --store-table")
        from xdump_spark.operators.incremental import ExactHashStore

        store = ExactHashStore(
            spark, args.store_table, n_buckets=args.buckets,
            path=args.store_path,
        )
    elif not args.store_path:
        raise SystemExit(f"--kind {args.kind} needs --store-path")
    elif args.kind == "signature":
        from xdump_spark.operators.incremental import SignatureStore

        store = SignatureStore(spark, args.store_path)
    elif args.kind == "vector":
        from xdump_spark.operators.incremental import VectorStore

        store = VectorStore(spark, args.store_path)
    elif args.kind == "window":
        from xdump_spark.operators.spans import WindowHashStore

        store = WindowHashStore(spark, args.store_path)
    elif args.kind == "rag":
        from xdump_spark.operators.incremental import VectorStore

        store = VectorStore(spark, args.store_path)
    else:
        store = None  # text-index: module-level functions below

    if args.action in ("retrain", "balance") and args.kind != "vector":
        raise SystemExit(
            f"--action {args.action} applies to --kind vector only"
        )
    if args.kind == "rag":
        # the chain's artifacts as one unit: stats and
        # whole-document forget (store -> index -> corpus)
        if not args.index_dir:
            raise SystemExit("--kind rag needs --index-dir")
        from xdump_spark.operators.retrieval import text_index_stats

        if args.action == "stats":
            rpt = {"store": store.stats(),
                   "index": text_index_stats(spark, args.index_dir)}
            if args.corpus_dir:
                from xdump_spark import fsutil
                from xdump_spark.pipeline import _corpus_layout

                cf = fsutil.list_data_files(spark, args.corpus_dir)
                rpt["corpus"] = {
                    "layout": _corpus_layout(
                        spark, args.corpus_dir
                    )["kind"],
                    "files": len(cf),
                    "bytes": sum(b for _, b in cf),
                }
        elif args.action == "compact":
            # one-command maintenance for the chain: store cells,
            # index segments, and
            # the survivor corpus's per-bucket small files
            from xdump_spark import fsutil
            from xdump_spark.operators.retrieval import (
                compact_text_index,
                text_index_stats,
            )
            from xdump_spark.pipeline import compact_rag_corpus

            if args.when_files_over is not None:
                # scheduled form: the gate is the chain's TOTAL
                # file count (all compactable artifacts pile up
                # together on a daily-increment cadence)
                total = (
                    store.stats()["files"]
                    + text_index_stats(spark, args.index_dir)["files"]
                    + (
                        len(fsutil.list_data_files(
                            spark, args.corpus_dir
                        ))
                        if args.corpus_dir
                        else 0
                    )
                )
                if total <= args.when_files_over:
                    print(_json.dumps(
                        {"skipped": True, "files": total}
                    ))
                    return
            rpt = {"store": store.compact(args.target_file_bytes),
                   "index": compact_text_index(spark, args.index_dir)}
            if args.corpus_dir:
                rpt["corpus"] = compact_rag_corpus(
                    spark, args.corpus_dir,
                    target_file_bytes=args.target_file_bytes,
                    n_buckets=args.corpus_buckets,
                    id_col=args.id_col,
                )
        elif args.action == "delete":
            if not args.delete_ids:
                raise SystemExit(
                    "--action delete --kind rag needs --delete-ids "
                    "(parquet of parent doc ids)"
                )
            from xdump_spark.pipeline import forget_rag_docs

            rpt = forget_rag_docs(
                spark, store, args.index_dir,
                spark.read.parquet(args.delete_ids),
                corpus_dir=args.corpus_dir,
            )
        else:
            raise SystemExit(
                "--kind rag supports --action stats, compact, and "
                "delete (retrain the vector store with --kind "
                "vector)"
            )
        print(_json.dumps(rpt))
        return
    if args.action == "delete":
        if args.kind == "exact":
            if args.delete_docs:
                rpt = store.delete_docs(
                    spark.read.parquet(args.delete_docs),
                    text_col=args.text_col,
                )
            elif args.delete_hashes:
                rpt = store.delete_hashes(
                    spark.read.parquet(args.delete_hashes)
                )
            else:
                raise SystemExit(
                    "--action delete --kind exact needs "
                    "--delete-docs or --delete-hashes (the store "
                    "keeps content hashes, not ids)"
                )
        elif args.kind in ("signature", "vector"):
            if not args.delete_ids:
                raise SystemExit(
                    f"--action delete --kind {args.kind} needs "
                    "--delete-ids"
                )
            rpt = store.delete_ids(spark.read.parquet(args.delete_ids))
        elif args.kind == "text-index":
            if not args.delete_ids:
                raise SystemExit(
                    "--action delete --kind text-index needs "
                    "--delete-ids"
                )
            from xdump_spark.operators.retrieval import (
                delete_text_index_docs,
            )

            rpt = delete_text_index_docs(
                spark, args.store_path,
                spark.read.parquet(args.delete_ids),
            )
        else:
            raise SystemExit(
                "--action delete supports exact/signature/vector "
                "stores and the saved text-index (window hashes "
                "are content-shared across documents — rebuild "
                "that artifact from the retained corpus instead)"
            )
        print(_json.dumps(rpt))
        return
    if args.when_files_over is not None and args.action == "compact":
        if args.kind == "text-index":
            from xdump_spark.operators.retrieval import text_index_stats

            st = text_index_stats(spark, args.store_path)
        else:
            st = store.stats()
        if st["files"] <= args.when_files_over:
            print(_json.dumps({"skipped": True, **st}))
            return
    if args.action == "retrain":
        if not args.n_cells:
            raise SystemExit("--action retrain needs --n-cells")
        if args.when_recommended:
            from xdump_spark.operators.similarity import ivf_balance

            bal = ivf_balance(
                store.index(),
                hot_cell_factor=args.hot_cell_factor,
                max_empty_frac=args.max_empty_frac,
            )
            if not bal["retrain_recommended"]:
                print(_json.dumps({"skipped": True, **bal}))
                return
        rpt = store.retrain(
            args.n_cells, sample_fraction=args.sample_fraction
        )
    elif args.action == "balance":
        from xdump_spark.operators.similarity import ivf_balance

        rpt = ivf_balance(store.index())
    elif args.kind == "text-index":
        from xdump_spark.operators.retrieval import (
            compact_text_index,
            text_index_stats,
        )

        rpt = (
            text_index_stats(spark, args.store_path)
            if args.action == "stats"
            else compact_text_index(spark, args.store_path)
        )
    elif args.action == "stats":
        rpt = store.stats()
    else:
        rpt = store.compact(target_file_bytes=args.target_file_bytes)
    print(_json.dumps(rpt))

_COMMANDS = {
    "dump": _dump,
    "load": _load,
    "curate": _curate,
    "train-lm": _train_lm,
    "train-quality": _train_quality,
    "select": _select,
    "train-tokenizer": _train_tokenizer,
    "media-profile": _media_profile,
    "datacard": _datacard,
    "prepare-rag": _prepare_rag,
    "prepare-sft": _prepare_sft,
    "prepare-pairs": _prepare_pairs,
    "ingest": _ingest,
    "search": _search,
    "maintain": _maintain,
}


def run(args, spark) -> int:
    """Execute a parsed CLI command against an existing session (split from
    ``main`` so tests can drive the CLI without owning session lifecycle)."""
    from xdump_spark.timing import configure

    configure(getattr(args, "verbosity", 0))
    args.backend = getattr(args, "backend", None) or resolve_backend(DEFAULT_BACKEND)
    _COMMANDS[args.command](args, spark)
    return 0


def main(argv: list[str] | None = None) -> int:
    from xdump_spark.session import get_spark

    args = build_parser().parse_args(argv)
    spark = get_spark("xdump_spark_cli")
    try:
        return run(args, spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
