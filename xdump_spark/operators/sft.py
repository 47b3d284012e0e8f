"""Conversation (SFT / instruction-tuning) data operators.

The post-training half of a data pipeline works on CONVERSATIONS —
``array<struct<role:string, content:string>>`` columns — not flat text:
validate turn structure, measure per-role budgets, dedup on a canonical
transcript fingerprint, render to a chat template, and locate the
assistant spans the loss mask needs. Everything here is pure Spark
codegen over the struct array (``filter``/``transform``/``aggregate``
higher-order functions) — no UDFs, no shuffles except where a dedup
genuinely requires one — so the operators run at crawl scale exactly
like the pretraining stages.

Design sources are public SFT-data conventions: ChatML-style rendering
(``<|im_start|>role\\ncontent<|im_end|>``), assistant-only loss masking,
and role-alternation validation as used by the open post-training
stacks. No reference analog (the reference engine `/root/reference` has
no text pipeline).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xdump_spark.operators.text import _sql_str, tokens, tokens_sql

DEFAULT_ROLES = ("system", "user", "assistant")


def _qident(name: str) -> str:
    """Backtick-quoted SQL identifier (the r14 SQL-text forms embed
    column names verbatim; a name with spaces/quotes/keywords must not
    parse as syntax — same discipline as text.py's lang_id_frame)."""
    return "`" + name.replace("`", "``") + "`"

# Unit separators for the canonical fingerprint: chosen from the C0
# control block so no realistic content collides with the framing.
_FIELD_SEP = "\x1f"
_TURN_SEP = "\x1e"


def _msgs(conv_col: str) -> Column:
    return F.col(conv_col)


def conversation_stats(
    df: DataFrame,
    conv_col: str = "messages",
    id_col: str = "conv_id",
    keep: tuple = (),
) -> DataFrame:
    """Per-conversation shape and budget: (id, n_turns, n_system,
    n_user, n_assistant, user_tokens, assistant_tokens, total_tokens).
    One Project — no explode, no shuffle: the per-role token sums run as
    ``aggregate`` over the filtered struct array, so a 10 B-conversation
    corpus is one narrow map stage.

    Built as ONE selectExpr (r14): the higher-order-function Column API
    costs a py4j round trip per lambda/function construction — this
    frame's eight HOF expressions measured 0.33 s of driver build per
    call, vs 0.06 s parsing the identical expressions from SQL text.
    The physical plan and results are unchanged (pinned by test).

    ``keep`` passes input columns through beside the stats (r15): a
    caller that needs stats AND other per-row columns (e.g. the
    validation ``reason``) in ONE pass would otherwise scan the corpus
    once per projection — at scale duplicate scans are the dominant
    waste, not the extra columns."""
    m = _qident(conv_col)
    tok = tokens_sql("x.content")

    def role_count(role: str) -> str:
        return f"CAST(size(filter({m}, x -> x.role = '{role}')) AS BIGINT)"

    def role_tokens(role: str) -> str:
        return (
            f"aggregate(filter({m}, x -> x.role = '{role}'), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + size({tok}))"
        )

    return df.selectExpr(
        _qident(id_col),
        f"CAST(size({m}) AS BIGINT) AS n_turns",
        role_count("system") + " AS n_system",
        role_count("user") + " AS n_user",
        role_count("assistant") + " AS n_assistant",
        role_tokens("user") + " AS user_tokens",
        role_tokens("assistant") + " AS assistant_tokens",
        f"aggregate({m}, CAST(0 AS BIGINT), (acc, x) -> acc + size({tok}))"
        " AS total_tokens",
        *[f"`{c}`" for c in keep],
    )


def validate_conversations(
    df: DataFrame,
    conv_col: str = "messages",
    allowed_roles: tuple = DEFAULT_ROLES,
    require_alternation: bool = True,
    require_assistant_last: bool = True,
) -> DataFrame:
    """Structural validation, SFT-convention rules: adds ``valid`` and a
    ``reason`` column naming the FIRST failed rule (null when valid).

    Rules, in check order: non-empty conversation; every role in
    ``allowed_roles``; no empty/whitespace content; at most one system
    message and only at position 0; user/assistant strictly alternate
    after the optional system prefix, starting with user
    (``require_alternation``); the last message is an assistant turn
    (``require_assistant_last`` — a trailing user turn has no training
    signal). Pure codegen — rules are array predicates, the frame keeps
    its partitioning.

    The rule expressions are built as ONE SQL string (r14): the HOF
    Column API paid a py4j round trip per lambda construction — ~0.35 s
    of driver build per call on this function — while parsing the
    identical expression text JVM-side is ~free. Expressions mirror the
    previous Column forms exactly (results pinned by the operator
    tests)."""
    m = _qident(conv_col)
    roles = f"transform({m}, x -> x.role)"
    # the conversation body after an optional leading system message
    body = (
        f"CASE WHEN element_at({roles}, 1) = 'system' "
        f"THEN slice({roles}, 2, size({roles})) ELSE {roles} END"
    )
    allowed = "array(" + ", ".join(_sql_str(r) for r in allowed_roles) + ")"
    # NULL-safe rules: under three-valued logic a NULL role/content/array
    # makes every naive predicate NULL, the reason CASE falls through,
    # and a structurally broken conversation is marked VALID — so each
    # rule coalesces the NULL case to its failing side.
    bad_role = (
        f"exists({roles}, r -> r IS NULL OR "
        f"NOT coalesce(array_contains({allowed}, r), false))"
    )
    empty_content = (
        f"exists({m}, x -> x.content IS NULL OR trim(x.content) = '')"
    )
    stray_system = f"size(filter({body}, r -> r = 'system')) > 0"
    # strict user/assistant alternation starting at user: role at
    # 1-based body position i must be user for odd i, assistant for even
    misordered = (
        f"exists(zip_with({body}, sequence(1, greatest(size({body}), 1)), "
        "(r, i) -> r != CASE WHEN i % 2 = 1 THEN 'user' "
        "ELSE 'assistant' END), x -> x)"
    )
    ends_user = f"NOT coalesce(element_at({roles}, -1) = 'assistant', false)"

    whens = [
        f"WHEN {m} IS NULL OR size({m}) = 0 THEN 'empty_conversation'",
        f"WHEN {bad_role} THEN 'unknown_role'",
        f"WHEN {empty_content} THEN 'empty_content'",
        f"WHEN {stray_system} THEN 'system_not_first'",
    ]
    if require_alternation:
        whens.append(f"WHEN {misordered} THEN 'no_alternation'")
    if require_assistant_last:
        whens.append(f"WHEN {ends_user} THEN 'not_assistant_last'")
    reason = "CASE " + " ".join(whens) + " ELSE CAST(NULL AS STRING) END"
    out = df.withColumn("reason", F.expr(reason))
    return out.withColumn("valid", F.col("reason").isNull())


def norm_content(c: Column) -> Column:
    """The canonical content normalization every conversation-level
    fingerprint uses: lowercase, whitespace-collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def canonical_transcript(msgs: Column) -> Column:
    """Canonical transcript string of a messages array: role U+001F
    normalized content per turn, turns joined by U+001E. The dedup key
    expression shared by conversation AND preference-pair fingerprints —
    template/format changes do NOT change it; content or role-order
    changes do."""
    return F.array_join(
        F.transform(
            msgs,
            lambda m: F.concat_ws(_FIELD_SEP, m["role"], norm_content(m["content"])),
        ),
        _TURN_SEP,
    )


def canonical_transcript_sql(arr: str) -> str:
    """SQL-string twin of :func:`canonical_transcript` over the array
    expression ``arr`` — for the named-column callers (fingerprints,
    dedups, the per-prompt cap), whose HOF Column construction was pure
    py4j overhead (r14; the Column form stays for computed-Column
    inputs like pairs_from_ratings' wrapped prompt). The separator
    control characters are embedded verbatim (the SQL lexer accepts raw
    C0 bytes inside string literals). Must stay in lockstep with
    :func:`canonical_transcript`/:func:`norm_content`; equality is
    pinned by the operator tests' dedup/fingerprint expectations."""
    norm = "trim(regexp_replace(lower(x.content), '\\\\s+', ' '))"
    return (
        f"array_join(transform({arr}, x -> "
        f"concat_ws('{_FIELD_SEP}', x.role, {norm})), '{_TURN_SEP}')"
    )


def conversation_fingerprint(
    df: DataFrame,
    conv_col: str = "messages",
) -> DataFrame:
    """Canonical 128-bit transcript fingerprint:
    :func:`canonical_transcript` hashed through the engine-wide
    ``incremental.hash128`` convention — the SAME (h1, h2) an
    ``ExactHashStore`` flow computes, so conversation dedup can run as
    an increment against a persistent store exactly like doc dedup.
    Adds ``h1``/``h2``."""
    from xdump_spark.operators.incremental import hash128

    h1, h2 = hash128(F.expr(canonical_transcript_sql(_qident(conv_col))))
    return df.withColumn("h1", h1).withColumn("h2", h2)


def dedup_conversations(
    df: DataFrame,
    conv_col: str = "messages",
    id_col: str = "conv_id",
) -> DataFrame:
    """Keep the min-id conversation per canonical fingerprint — the
    conversation-level exact dedup. One shuffle of narrow (h1, h2, id)
    rows with map-side-combined min, then a semi-join back by id; the
    full struct payload is never shuffled on the hash key."""
    fp = conversation_fingerprint(df, conv_col=conv_col)
    keep = fp.groupBy("h1", "h2").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def dedup_conversations_incremental(
    df: DataFrame,
    store,
    conv_col: str = "messages",
    id_col: str = "conv_id",
    defer_commit: bool = False,
):
    """Conversation dedup as an INCREMENT against a persistent
    ``incremental.ExactHashStore`` — the daily-SFT-drop flow, mirroring
    doc-level ``incremental_exact_dedup``: a conversation is accepted
    iff its canonical transcript fingerprint was never accepted before
    (any prior increment, or a smaller id in this batch). Returns the
    accepted ids frame (``id``); ``defer_commit=True`` returns
    ``(accepted, commit)`` for the write-output-then-commit discipline.
    Because the fingerprint is the engine-wide :func:`hash128`
    convention, the store layout, compaction, stats, and the
    one-exchange bucket-co-located plan are all the doc flow's —
    identical machinery, different canonical string."""
    from xdump_spark.operators.incremental import hash128, incremental_hash_dedup

    h1, h2 = hash128(F.expr(canonical_transcript_sql(_qident(conv_col))))
    batch = df.select(F.col(id_col).alias("id"), h1.alias("h1"), h2.alias("h2"))
    return incremental_hash_dedup(batch, store, defer_commit=defer_commit)


_TEMPLATES = {
    # ChatML-style: the de-facto open SFT rendering
    "chatml": ("<|im_start|>{role}\n", "<|im_end|>\n"),
    # plain: human-readable, used for inspection dumps
    "plain": ("{role}: ", "\n\n"),
}


def render_chat(
    df: DataFrame,
    conv_col: str = "messages",
    template: str = "chatml",
    out_col: str = "text",
) -> DataFrame:
    """Render each conversation to one training string under a named
    template (``chatml`` or ``plain``). One Project; feeds the same
    tokenize → pack → shard tail as pretraining text (the rendered
    column IS a ``documents.text``)."""
    if template not in _TEMPLATES:
        raise ValueError(f"unknown template {template!r}; one of {sorted(_TEMPLATES)}")
    pre, post = _TEMPLATES[template]
    left, right = pre.split("{role}")
    # one SQL string instead of the HOF Column chain (r14 py4j-cost
    # note on conversation_stats); template pieces go through _sql_str
    # so a future template containing a quote or backslash renders as a
    # literal instead of breaking (or silently changing) the expression
    rendered = (
        f"array_join(transform({_qident(conv_col)}, x -> "
        f"concat({_sql_str(left)}, x.role, {_sql_str(right)}, "
        f"x.content, {_sql_str(post)})), '')"
    )
    return df.withColumn(out_col, F.expr(rendered))


def assistant_spans(
    df: DataFrame,
    conv_col: str = "messages",
    template: str = "chatml",
) -> DataFrame:
    """Character spans of assistant CONTENT inside the rendered string —
    what an assistant-only loss mask needs: adds ``spans``
    ``array<struct<start,end>>`` (0-based, end-exclusive) aligned with
    :func:`render_chat` under the same template. Computed as one
    ``aggregate`` pass carrying a running offset — pure codegen, no
    explode, no join-back, works on a single Project at any scale."""
    if template not in _TEMPLATES:
        raise ValueError(f"unknown template {template!r}; one of {sorted(_TEMPLATES)}")
    pre, post = _TEMPLATES[template]
    left, right = pre.split("{role}")
    # one SQL string instead of the HOF Column chain (r14 py4j-cost
    # note on conversation_stats); the aggregate carries the same
    # (off, spans) struct accumulator the Column form did
    lr, lp = len(left) + len(right), len(post)
    start = f"acc.off + length(x.role) + {lr}"
    end = f"{start} + length(x.content)"
    spans = (
        f"aggregate({_qident(conv_col)}, "
        "named_struct('off', CAST(0 AS BIGINT), "
        "'spans', CAST(array() AS array<struct<start:bigint,end:bigint>>)), "
        "(acc, x) -> named_struct("
        f"'off', {end} + {lp}, "
        "'spans', CASE WHEN x.role = 'assistant' "
        f"THEN concat(acc.spans, array(named_struct('start', {start}, 'end', {end}))) "
        "ELSE acc.spans END), "
        "acc -> acc.spans)"
    )
    return df.withColumn("spans", F.expr(spans))


def special_token_ids(vocab: DataFrame) -> dict[str, int]:
    """The four chat-control token ids appended above a ``build_vocab``
    table: per-role turn-start markers plus the shared turn-end. Ids are
    dense above the vocabulary (build_vocab assigns 1..N by frequency,
    0 = OOV), so the mapping is a pure function of the vocab — two runs
    over the same corpus agree, and a saved shard's specials can be
    reconstructed from the saved vocab alone."""
    base = vocab.agg(F.max("token_id")).first()[0] or 0
    return {
        "im_start_system": base + 1,
        "im_start_user": base + 2,
        "im_start_assistant": base + 3,
        "im_end": base + 4,
    }


def encode_conversations(
    df: DataFrame,
    vocab: DataFrame,
    conv_col: str = "messages",
    id_col: str = "conv_id",
    unk_id: int = 0,
    mask_im_end: bool = True,
) -> DataFrame:
    """Token-level encoding with the assistant-only LOSS MASK: (id,
    input_ids array<int>, loss_mask array<boolean>, n_tokens,
    n_assistant_tokens). Each turn encodes as [im_start_<role>] +
    content token ids + [im_end]; mask is True exactly on assistant
    CONTENT tokens (plus the assistant turn's im_end when
    ``mask_im_end`` — the model must learn to STOP, so the end-of-turn
    token carries loss by default, the open-stack convention).

    This is the token-space twin of :func:`assistant_spans`: spans give
    char offsets into the rendered string (template-dependent,
    tokenizer-free); this gives the aligned (ids, mask) arrays a trainer
    consumes directly — per-turn encoding sidesteps char→token offset
    mapping entirely, so the mask is exact by construction, not by
    arithmetic over a tokenizer's offsets.

    Same scale shape as curation.tokenize_frame (whose tokenizer
    convention — strip/lower/whitespace-split, the ``tokens()`` twin —
    it shares): the bounded vocab broadcasts as a dict, one Arrow batch
    pass, zero shuffles; the corpus stays narrow. Unknown roles (run
    :func:`validate_conversations` first) get an ``unk_id`` start marker
    and an unmasked turn — deterministic, never fatal mid-job."""
    import pandas as pd

    missing = {"tok", "token_id"} - set(vocab.columns)
    if missing:
        raise ValueError(
            f"vocab frame is missing column(s) {sorted(missing)}; expected the "
            "(tok, token_id, n) shape build_vocab produces"
        )
    specials = special_token_ids(vocab)
    vmap = {r["tok"]: r["token_id"] for r in vocab.select("tok", "token_id").collect()}
    b_vmap = df.sparkSession.sparkContext.broadcast(vmap)
    im_end = specials["im_end"]
    starts = {
        "system": specials["im_start_system"],
        "user": specials["im_start_user"],
        "assistant": specials["im_start_assistant"],
    }

    # no type hints: the hint-inference path has no Series->DataFrame
    # rule, but the plain SCALAR pandas UDF supports struct returns
    def _enc(msgs):
        m = b_vmap.value

        def one(conv):
            ids: list[int] = []
            mask: list[bool] = []
            # Arrow hands the messages array over as a numpy array, whose
            # truthiness is ambiguous — test None explicitly
            for msg in conv if conv is not None else []:
                role = msg["role"]
                content = msg["content"] or ""
                is_asst = role == "assistant"
                ids.append(starts.get(role, unk_id))
                mask.append(False)
                for w in content.strip().lower().split():
                    ids.append(m.get(w, unk_id))
                    mask.append(is_asst)
                ids.append(im_end)
                mask.append(is_asst and mask_im_end)
            return {"ids": ids, "mask": mask}

        return pd.DataFrame(list(msgs.map(one)))

    enc = F.pandas_udf(_enc, "struct<ids:array<int>, mask:array<boolean>>")
    out = df.select(F.col(id_col), enc(F.col(conv_col)).alias("_e"))
    return out.select(
        id_col,
        F.col("_e.ids").alias("input_ids"),
        F.col("_e.mask").alias("loss_mask"),
        F.size("_e.ids").cast("long").alias("n_tokens"),
        F.size(F.filter("_e.mask", lambda x: x)).cast("long").alias(
            "n_assistant_tokens"
        ),
    )


def pack_encoded(
    encoded: DataFrame,
    budget: int,
    id_col: str = "conv_id",
    partitions: int | None = None,
) -> DataFrame:
    """Greedy first-fit packing of ENCODED conversations into token-
    budget-bounded training sequences, loss mask carried along:
    (seq_id, conv_ids, input_ids, loss_mask, n_convs, n_tokens) with
    ``input_ids``/``loss_mask`` the in-order concatenation of the member
    conversations' arrays — the SFT trainer's actual input shape.

    Same determinism discipline as curation.pack_sequences (and
    GROUPING-IDENTICAL to it given the same (id, n_tok) frame — pinned
    by test): bucket = pure hash of the id, members packed in id order
    within each bucket, seq_id = (bucket << 32) | local_index. One
    shuffle (the bucket groupBy); per-task state is one open bin —
    O(budget) ints beyond the Arrow batch. Conversations longer than
    ``budget`` become singleton truncation-needed sequences.

    The output feeds sources/token_shards.write_binary_shards twice —
    once with ids_col="input_ids" and once with the mask cast to ints —
    producing byte-aligned id/mask shard pairs (same seq_id
    partitioning and ordering on both calls)."""
    import pandas as pd

    n_parts = partitions or encoded.sparkSession.sparkContext.defaultParallelism
    src = encoded.select(
        F.col(id_col).cast("long").alias("id"),
        "input_ids",
        "loss_mask",
        F.size("input_ids").alias("n_tok"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_parts))
    )
    schema = (
        "seq_id long, conv_ids array<long>, input_ids array<int>, "
        "loss_mask array<boolean>, n_convs int, n_tokens int"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        bucket = int(pdf["bucket"].iloc[0])
        rows: list[tuple] = []
        cur_ids: list[int] = []
        cur_in: list[int] = []
        cur_mask: list[bool] = []
        cur_tok = 0
        nxt = 0

        def flush():
            nonlocal cur_ids, cur_in, cur_mask, cur_tok, nxt
            if cur_ids:
                rows.append((
                    (bucket << 32) | nxt, cur_ids, cur_in, cur_mask,
                    len(cur_ids), cur_tok,
                ))
                nxt += 1
                cur_ids, cur_in, cur_mask, cur_tok = [], [], [], 0

        for _id, ids, mask, n in zip(
            pdf["id"], pdf["input_ids"], pdf["loss_mask"], pdf["n_tok"]
        ):
            if cur_tok + n > budget and cur_ids:
                flush()
            cur_ids.append(int(_id))
            cur_in.extend(int(x) for x in ids)
            cur_mask.extend(bool(x) for x in mask)
            cur_tok += int(n)
            if cur_tok >= budget:
                flush()
        flush()
        return pd.DataFrame(
            rows,
            columns=["seq_id", "conv_ids", "input_ids", "loss_mask",
                     "n_convs", "n_tokens"],
        )

    return src.groupBy("bucket").applyInPandas(pack, schema)


# the standard conversations interchange shape as a JSONL schema
CONVERSATIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.LongType()),
        T.StructField(
            "messages",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("role", T.StringType()),
                        T.StructField("content", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("source", T.StringType()),
    ]
)


def read_conversations_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Read an SFT interchange dump (one conversation JSON object per
    line — the format instruction datasets actually ship in) →
    (clean, corrupt), with the JSONL source's quarantine contract:
    malformed lines and wrong-shape objects land verbatim in
    ``corrupt``, never fail the read. Structural PROBLEMS inside a
    parsed conversation (bad roles, no alternation, …) are not the
    reader's job — run :func:`validate_conversations` next; that split
    keeps 'unreadable' and 'invalid' separately auditable."""
    from xdump_spark.sources.jsonl import read_jsonl_corpus

    return read_jsonl_corpus(spark, path, schema or CONVERSATIONS_SCHEMA)


def decontaminate_conversations(
    df: DataFrame,
    benchmark: DataFrame,
    conv_col: str = "messages",
    id_col: str = "conv_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Drop conversations sharing ≥ ``min_shared`` distinct word
    ``n``-grams with any benchmark document — ANY turn's content counts
    (a benchmark question leaking through a user turn is contamination
    as much as through an assistant answer). Reuses
    curation.contamination_screen's broadcast gram join: benchmark grams
    dedup'd + broadcast, the conversation corpus never shuffles."""
    from xdump_spark.operators.curation import contamination_screen

    flat = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(
            F.transform(_msgs(conv_col), lambda m: m["content"]), " "
        ).alias("text"),
    )
    hits = contamination_screen(
        flat, benchmark, n=n, min_shared=min_shared
    ).select(F.col("doc_id").alias(id_col))
    return df.join(hits, id_col, "left_anti")


def streaming_sft_ingest(
    spark: SparkSession,
    input_dir: str,
    store,
    out_dir: str,
    checkpoint_dir: str,
    corrupt_dir: str | None = None,
    rejects_dir: str | None = None,
    template: str = "chatml",
    schema: T.StructType | None = None,
    trigger: dict | None = None,
):
    """Continuous SFT ingestion: conversation-JSONL files LANDING in
    ``input_dir`` (a labeling-pipeline drop directory) stream through
    parse → validate → transcript-fingerprint dedup against the
    persistent ``store`` (ExactHashStore) → render + loss-mask spans →
    append to ``out_dir`` parquet. Unreadable lines quarantine to
    ``corrupt_dir``, structurally invalid conversations (with reasons)
    to ``rejects_dir`` — the reader/validator split stays auditable
    under streaming arrival exactly as in :func:`read_conversations_jsonl`.

    The SFT twin of sources/warc.streaming_wet_ingest, same restart
    discipline: the file-stream checkpoint remembers consumed files, the
    bucketed hash store carries dedup history across restarts AND across
    batch runs (a drop ingested here is deduped against yesterday's CLI
    run — one store, either arrival mode), and output parquet is written
    BEFORE the store commit so a crash can duplicate (dedupable by
    conv_id) but never lose. ``trigger`` defaults to
    ``{"availableNow": True}`` (drain-and-stop)."""
    from xdump_spark.sources.jsonl import parse_jsonl_lines

    raw = spark.readStream.text(input_dir)
    use_schema = schema or CONVERSATIONS_SCHEMA

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        convs, corrupt = parse_jsonl_lines(batch_df, use_schema)
        if corrupt_dir is not None:
            corrupt.write.mode("append").parquet(corrupt_dir)
        flagged = validate_conversations(convs)
        rejects = flagged.filter(~F.col("valid")).select("conv_id", "reason")
        if rejects_dir is not None:
            rejects.write.mode("append").parquet(rejects_dir)
        cur = flagged.filter(F.col("valid")).drop("valid", "reason")
        accepted, commit = dedup_conversations_incremental(
            cur, store, defer_commit=True
        )
        survivors = cur.join(
            accepted.withColumnRenamed("id", "conv_id"), "conv_id", "left_semi"
        )
        out = assistant_spans(
            render_chat(survivors, template=template), template=template
        )
        out.write.mode("append").parquet(out_dir)
        commit()

    writer = raw.writeStream.foreachBatch(_do_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    trig = trigger or {"availableNow": True}
    return writer.trigger(**trig).start()


@dataclass
class SFTResult:
    """prepare_sft_corpus output: the training-ready frame plus the
    rejects and per-stage audit a data card needs."""

    convs: DataFrame                     # valid, deduped, rendered (+spans)
    rejects: DataFrame                   # (id, reason) for invalid rows
    audit: dict = field(default_factory=dict)
    encoded: DataFrame | None = None     # (id, input_ids, loss_mask) if vocab
    store_commit: object | None = None   # call AFTER writing output (store)
    splits: dict | None = None           # name -> DataFrame (if splits)


def prepare_sft_corpus(
    convs: DataFrame,
    conv_col: str = "messages",
    id_col: str = "conv_id",
    template: str = "chatml",
    allowed_roles: tuple = DEFAULT_ROLES,
    require_alternation: bool = True,
    require_assistant_last: bool = True,
    dedup: bool = True,
    dedup_store=None,
    benchmark: DataFrame | None = None,
    contamination_n: int = 8,
    shuffle_seed: int | None = 0,
    splits: dict[str, float] | None = None,
    split_seed: int = 0,
    audit: bool = True,
    vocab: DataFrame | None = None,
    mask_im_end: bool = True,
    flagged: DataFrame | None = None,
) -> SFTResult:
    """One-call SFT preparation: validate → (reject with reasons) →
    fingerprint-dedup → render under ``template`` → assistant loss-mask
    spans → reproducible shuffle. The output frame carries the original
    struct column PLUS ``text`` and ``spans`` — ready for the same
    tokenize/pack/shard tail as pretraining text. Stages that would
    MUTATE the rendered text (normalization, span-stripping) are
    deliberately absent: the loss-mask spans are char offsets into
    ``text`` and any rewrite would silently invalidate them — filter-only
    gates (quality, decontamination by drop) compose safely downstream.
    Pass a ``build_vocab`` table as ``vocab`` to also get
    ``result.encoded`` — the token-space (input_ids, loss_mask) arrays
    from :func:`encode_conversations`, aligned with the survivors.
    ``splits`` partitions the final frame with the deterministic
    ``cleaning.hash_split`` on ``id_col`` (membership a pure function of
    (``split_seed``, id)); ``result.splits`` maps name → frame and
    ``result.encoded`` is built from the FIRST-named split only (the
    train split by convention — no val/test leakage).

    ``flagged``: the output of :func:`validate_conversations` over
    ``convs`` under the SAME validation kwargs, if the caller already
    built it (a pipeline that reports validation reasons separately
    would otherwise build the identical frame twice — the validation
    expression tree is a few hundred driver-side Column constructions,
    measurable when the front door runs per panel/micro-batch).
    Results are identical by definition; when in doubt pass nothing."""
    if flagged is None:
        flagged = validate_conversations(
            convs,
            conv_col=conv_col,
            allowed_roles=allowed_roles,
            require_alternation=require_alternation,
            require_assistant_last=require_assistant_last,
        )
    rejects = flagged.filter(~F.col("valid")).select(id_col, "reason")
    cur = flagged.filter(F.col("valid")).drop("valid", "reason")
    counts: dict = {}
    if audit:
        # input + valid in ONE job (count + conditional sum over the
        # flagged frame), not two full re-validations
        row = flagged.agg(
            F.count("*").alias("n"),
            F.sum(F.col("valid").cast("long")).alias("v"),
        ).first()
        counts["input"] = int(row["n"])
        counts["valid"] = int(row["v"] or 0)
    store_commit = None
    if dedup and dedup_store is not None:
        # daily-drop mode: dedup against ALL prior increments via the
        # persistent store; the commit is DEFERRED into the result —
        # call result.store_commit() after the output is durably
        # written, or a crash in between poisons the store (the same
        # write-output-then-commit order streaming_sft_ingest enforces)
        accepted, store_commit = dedup_conversations_incremental(
            cur, dedup_store, conv_col=conv_col, id_col=id_col,
            defer_commit=True,
        )
        cur = cur.join(
            accepted.withColumnRenamed("id", id_col), id_col, "left_semi"
        )
        if audit:
            cur = cur.persist()
            counts["deduped"] = cur.count()
    elif dedup:
        cur = dedup_conversations(cur, conv_col=conv_col, id_col=id_col)
        if audit:
            # the deduped count would otherwise re-run the fingerprint
            # shuffle, and the caller's first action would run it a third
            # time — persist the survivor set across both
            cur = cur.persist()
            counts["deduped"] = cur.count()
    if benchmark is not None:
        cur = decontaminate_conversations(
            cur, benchmark, conv_col=conv_col, id_col=id_col, n=contamination_n
        )
        if audit:
            counts["decontaminated"] = cur.count()
    cur = render_chat(cur, conv_col=conv_col, template=template)
    cur = assistant_spans(cur, conv_col=conv_col, template=template)
    if shuffle_seed is not None:
        from xdump_spark.operators.cleaning import deterministic_shuffle

        cur = deterministic_shuffle(cur, seed=shuffle_seed, id_col=id_col)
    split_frames = None
    enc_input = cur
    if splits is not None:
        from xdump_spark.operators.cleaning import hash_split

        split_frames = hash_split(cur, splits, seed=split_seed, id_col=id_col)
        enc_input = split_frames[next(iter(splits))]
        if audit:
            for name, f in split_frames.items():
                counts[f"split_{name}"] = f.count()
    encoded = (
        encode_conversations(
            enc_input, vocab, conv_col=conv_col, id_col=id_col,
            mask_im_end=mask_im_end,
        )
        if vocab is not None
        else None
    )
    return SFTResult(
        convs=cur, rejects=rejects, audit=counts, encoded=encoded,
        store_commit=store_commit, splits=split_frames,
    )
