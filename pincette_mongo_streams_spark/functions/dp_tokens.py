"""Tokenizer family: $tokenCount, $bpeEncode, $bpeDecode, $bpeTrain
(real byte-level BPE lives in functions/bpe.py).

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage


@register_stage("$tokenCount", "per_batch")
def token_count_stage(expression: Any, ctx: Context) -> StageFn:
    """Token counting: ``{input, as, mode: whitespace|bpe, tokenizer?}``.
    ``bpe`` uses a GPT-style pre-tokenizer regex (contractions / letter
    runs / digit runs / punctuation) as a deterministic proxy for a real
    BPE vocab.  r6: ``tokenizer: {merges: "<collection>"}`` runs REAL
    byte-pair encoding against a broadcast GPT-2-style merge-rank table
    (functions/bpe.py; r7: BYTE-level over the GPT-2 byte->unicode
    alphabet with a Unicode-class scanner pre-tokenizer — public
    merges.txt tables work verbatim) — the count a context budget
    actually means.  The
    merge loop is unbounded-depth, so this mode is an Arrow-batched
    Pandas UDF: the documented tokenizer Python boundary (like the
    $decodeMedia codec boundary), row-local, zero shuffle."""
    inp = expression["input"]
    as_field = expression.get("as", "n_tokens")
    mode = expression.get("mode", "whitespace")
    tokenizer = expression.get("tokenizer")
    if tokenizer is not None and "merges" not in tokenizer:
        raise ValueError("$tokenCount tokenizer needs a merges collection")
    if tokenizer is not None and "mode" in expression:
        # a tokenizer IS the mode — accepting both would silently ignore
        # one of them (advisor r6)
        raise ValueError(
            "$tokenCount: pass either mode or tokenizer, not both "
            f"(got mode={expression['mode']!r} with a tokenizer)")
    if mode not in ("whitespace", "bpe"):
        raise ValueError(f"bad token mode {mode}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        if tokenizer is not None:
            from . import bpe as _bpe

            _bpe.ship()
            bc = _bpe.broadcast_tokenizer(c, tokenizer["merges"])
            count_tokens = _bpe.count_tokens

            cache: dict = {}  # per-TASK word memo (closure state
            # survives Arrow batches; reset if it ever balloons)

            @F.pandas_udf("long")
            def _count(s: pd.Series) -> pd.Series:
                _bpe.trim_memo(cache)
                rk, _ = bc.value
                return s.map(lambda t: count_tokens(t, rk, cache))

            return df.withColumn(as_field, _count(text))
        if mode == "whitespace":
            count = F.size(F.split(F.trim(text), "\\s+"))
        else:  # "bpe" (mode validated at compile time)
            pattern = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
            count = F.regexp_count(text, F.lit(pattern))
        return df.withColumn(as_field, count.cast("long"))

    return fn


@register_stage("$bpeEncode", "per_batch")
def bpe_encode_stage(expression: Any, ctx: Context) -> StageFn:
    """Full BPE tokenization — the artifact a training pipeline
    actually materializes: ``{input, tokenizer: {merges, vocab?}, as?}``
    adds ``as`` (default "tokens") as ``array<string>`` of byte-level
    BPE tokens in the GPT-2 remap alphabet (``"Ġthe"`` — the public
    vocab.json symbol space; ``bpe.decode(tokens) == text`` exactly).
    With ``vocab`` (a collection mapping ``token -> id``), emits
    ``array<long>`` ids instead; tokens absent from the vocab map to
    ``-1`` — r7 byte-level note: a vocab containing all 256 single-byte
    symbols (every public GPT-2-style vocab does) can never OOV, since
    an unmerged token IS a byte symbol.  Null in -> null out.

    100 TB shape: same Arrow-batched tokenizer boundary as
    ``$tokenCount`` — merge table (and vocab) broadcast once per
    executor, row-local, zero shuffle."""
    inp = expression["input"]
    as_field = expression.get("as", "tokens")
    tokenizer = expression.get("tokenizer") or {}
    if "merges" not in tokenizer:
        raise ValueError("$bpeEncode tokenizer needs a merges collection")
    vocab_name = tokenizer.get("vocab")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from . import bpe as _bpe

        _bpe.ship()
        bc = _bpe.broadcast_tokenizer(c, tokenizer["merges"], vocab_name)
        encode = _bpe.encode
        text = compile_expr(inp, ExprContext(schema=df.schema))

        cache: dict = {}  # per-task word memo, see $tokenCount

        if vocab_name is None:
            @F.pandas_udf("array<string>")
            def _enc(s: pd.Series) -> pd.Series:
                _bpe.trim_memo(cache)
                rk, _ = bc.value
                return s.map(lambda t: None if t is None
                             else encode(t, rk, cache))
        else:
            @F.pandas_udf("array<long>")
            def _enc(s: pd.Series) -> pd.Series:
                _bpe.trim_memo(cache)
                rk, vb = bc.value
                return s.map(lambda t: None if t is None
                             else [vb.get(tok, -1)
                                   for tok in encode(t, rk, cache)])

        return df.withColumn(as_field, _enc(text))

    return fn


@register_stage("$bpeDecode", "per_batch")
def bpe_decode_stage(expression: Any, ctx: Context) -> StageFn:
    """Invert ``$bpeEncode``: ``{input, as?, tokenizer?, onError?}``
    turns a token array back into text.

    - ``array<string>`` input (remap-alphabet tokens, the $bpeEncode
      default output): decoding needs NO model at all — the GPT-2
      byte->unicode remap inverts as a compile-time ``translate`` map
      and the byte join is ``encode(ISO-8859-1)`` + ``decode(UTF-8)``.
      **Pure JVM column program** (whole-stage codegen, no broadcast,
      no Python) — the decode direction is the cheap one, by design.
    - ``array<long>`` / ``array<int>`` input (vocab ids): needs
      ``tokenizer: {vocab}`` — the id->token reverse map broadcasts
      (same memo as the encoder) and decoding runs on the Arrow
      tokenizer boundary.

    ``onError`` (default ``"error"``): token sequences that do not form
    valid UTF-8 (an arbitrary slice can cut a multi-byte codepoint),
    tokens containing chars outside the GPT-2 remap alphabet (not
    ``$bpeEncode`` output — advisor r8: raw control chars like
    ``"\\x07"`` are latin-1 but the remap never emits them, so both
    paths reject them), or ids absent from the vocab raise; ``"null"``
    yields null for that row instead.  Null in -> null out.  100 TB
    shape: row-local, zero shuffle either way."""
    inp = expression["input"]
    as_field = expression.get("as", "text")
    tokenizer = expression.get("tokenizer") or {}
    vocab_name = tokenizer.get("vocab")
    on_error = expression.get("onError", "error")
    if on_error not in ("error", "null"):
        raise ValueError(
            f"$bpeDecode onError must be error|null, got {on_error!r}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from . import bpe as _bpe

        toks = compile_expr(inp, ExprContext(schema=df.schema))
        dt = df.select(toks.alias("__t")).schema[0].dataType
        if not isinstance(dt, T.ArrayType):
            raise ValueError(
                f"$bpeDecode input must be an array (got {dt.simpleString()})")
        if isinstance(dt.elementType, T.StringType):
            # JVM path: invert the remap via translate, re-read the
            # latin-1 bytes as UTF-8
            pairs = sorted((u, b) for b, u in _bpe.BYTE_TO_UNICODE.items()
                           if ord(u) != b)
            frm = "".join(u for u, _ in pairs)
            to = "".join(chr(b) for _, b in pairs)
            # review r7: a null ELEMENT would silently vanish in
            # concat_ws — that's data corruption, not decoding; and a
            # token containing a char outside the remap alphabet makes
            # encode(ISO-8859-1) itself raise, so the lenient mode must
            # guard BEFORE encode (nested when = guaranteed
            # short-circuit), not just before decode.
            # advisor r8: validate against the REMAP ALPHABET itself,
            # not merely latin-1 — chars like "\x07" or a raw "\n" are
            # latin-1 bytes but are NOT $bpeEncode output (the remap
            # maps those bytes to Ā-range symbols), and the id
            # path rejects their vocab analogs; without this guard the
            # string path silently decoded them.  The class is built
            # from BYTE_TO_UNICODE so it IS the encoder's alphabet.
            alpha_cps = sorted(ord(u) for u in _bpe.BYTE_TO_UNICODE
                               .values())
            runs: list[list[int]] = []
            for cp in alpha_cps:
                if runs and cp == runs[-1][1] + 1:
                    runs[-1][1] = cp
                else:
                    runs.append([cp, cp])
            alpha_re = "^[%s]*$" % "".join(
                f"\\u{a:04x}-\\u{b:04x}" if a != b else f"\\u{a:04x}"
                for a, b in runs)
            has_null_tok = F.exists(toks, lambda x: x.isNull())
            raw = F.concat_ws("", toks)
            alpha_ok = raw.rlike(alpha_re)
            translated = F.translate(raw, frm, to)
            joined = F.encode(translated, "ISO-8859-1")
            decoded = F.decode(joined, "UTF-8")
            if on_error == "null":
                decoded = F.when(
                    alpha_ok,
                    F.when(F.call_function("is_valid_utf8", joined),
                           decoded))
                bad_elem = F.lit(None).cast("string")
            else:
                decoded = F.when(alpha_ok, decoded).otherwise(
                    F.raise_error(F.concat(
                        F.lit("$bpeDecode: token outside the GPT-2 "
                              "remap alphabet (tokens must be "
                              "$bpeEncode output; use onError: 'null' "
                              "to tolerate)"),
                    )).cast("string"))
                bad_elem = F.raise_error(F.concat(
                    F.lit("$bpeDecode: null token element at input "),
                    F.lit("(tokens must be a complete $bpeEncode "
                          "output; use onError: 'null' to tolerate)"),
                )).cast("string")
            out = F.when(toks.isNull(), F.lit(None).cast("string")) \
                .when(has_null_tok, bad_elem) \
                .otherwise(decoded)
            return df.withColumn(as_field, out)
        if not isinstance(dt.elementType, T.IntegralType):
            raise ValueError(
                "$bpeDecode input must be array<string> tokens or "
                f"array<long> ids (got {dt.simpleString()})")
        if vocab_name is None:
            raise ValueError(
                "$bpeDecode on id arrays needs tokenizer: {vocab: ...}")
        _bpe.ship()
        # reuse the encoder's broadcast memo keyed on the vocab alone
        # (merges resolves too if present; ids only need the vocab)
        merges_name = tokenizer.get("merges")
        if merges_name is not None:
            bc = _bpe.broadcast_tokenizer(c, merges_name, vocab_name)

            def get_vocab():
                return bc.value[1]
        else:
            bcv = _bpe.broadcast_vocab(c, vocab_name)

            def get_vocab():
                return bcv.value
        null_on_err = on_error == "null"
        decode_ids = _bpe.decode_ids
        memo: dict = {}  # reverse map inverted once per task, not per
        # Arrow batch (review r7) — the closure state survives batches

        @F.pandas_udf("string")
        def _dec(s: pd.Series) -> pd.Series:
            rev = memo.get("rev")
            if rev is None:
                rev = {i: t for t, i in get_vocab().items()}
                memo["rev"] = rev
            return s.map(lambda ids: None if ids is None
                         else decode_ids(ids, rev, null_on_err))

        return df.withColumn(as_field, _dec(toks))

    return fn


@register_stage("$bpeTrain", "corpus")
def bpe_train_stage(expression: Any, ctx: Context) -> StageFn:
    """Learn a BPE merge table FROM the corpus — the in-engine source
    for ``$tokenCount``/``$truncateTokens`` ``tokenizer: {merges}``:
    ``{input, merges, minCount?, maxWords?}`` emits ``(left, right,
    rank)`` rows (feed back via ``Context.collections``).

    100 TB shape (how practical BPE training works): the corpus
    collapses to a WORD-FREQUENCY table first — pre-tokenize (the same
    Python pre-tokenizer the encoder uses, Arrow-batched), explode,
    one partial-aggregated groupBy(word) — then the top ``maxWords``
    (default 1,000,000; TakeOrderedAndProject, no global sort) rows
    come to the driver and the frequency-greedy merge loop (Sennrich et
    al. 2016, incremental pair-count bookkeeping — functions/bpe.py
    ``train``) runs driver-side over that BOUNDED table, exactly like
    reference tokenizer trainers.  ``minCount`` (default 2) stops when
    no pair reaches it.  Eager (the word-count job runs when the stage
    executes, like $bucketAuto's boundary job); the output plan is a
    local relation."""
    inp = expression["input"]
    n_merges = int(expression["merges"])
    min_count = int(expression.get("minCount", 2))
    max_words = int(expression.get("maxWords", 1_000_000))
    if n_merges < 1 or min_count < 1 or max_words < 1:
        raise ValueError(
            "$bpeTrain needs merges >= 1, minCount >= 1, maxWords >= 1")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from . import bpe as _bpe

        _bpe.ship()  # the scanner closure pickles by value
        text = compile_expr(inp, ExprContext(schema=df.schema))
        pretokenize = _bpe.pretokenize

        @F.pandas_udf("array<string>")
        def _pretok(s: pd.Series) -> pd.Series:
            return s.map(lambda t: [] if t is None
                         else pretokenize(t))

        word_rows = (
            df.select(F.explode(_pretok(text)).alias("__w"))
            .groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
            .orderBy(F.col("__c").desc(), F.col("__w"))
            .limit(max_words)
            .collect()
        )
        counts = {r["__w"]: int(r["__c"]) for r in word_rows}
        merges = _bpe.train(counts, n_merges, min_count)
        return c.spark.createDataFrame(
            merges, "left string, right string, rank long")

    return fn


