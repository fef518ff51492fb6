"""GPT-2-style BYTE-LEVEL byte-pair-encoding for ``$tokenCount`` /
``$truncateTokens`` / ``$bpeEncode`` ``tokenizer: {merges: "<collection>"}``
mode and the ``$bpeTrain`` trainer.

The merge table is a Context collection (metadata-sized, like the Atlas
synonym mappings) with columns ``(left, right, rank)`` or ``(pair, rank)``
where ``pair`` is the merges.txt line form ``"Ġ the"``.  It is collected
on the driver (50k rows for a GPT-2-sized vocab) and shipped once per
executor inside the Arrow-batched UDF closure.

r7 closes the two r6 fidelity gaps (this is now the REAL GPT-2 tokenizer
pipeline shape, not an ASCII approximation):

- **Pre-tokenizer**: a small scanner over real Unicode classes
  (``str.isalpha`` = ``\\p{L}``, ``str.isnumeric``/``isdigit`` =
  ``\\p{N}``, ``str.isspace`` = ``\\s``) replicating GPT-2's published
  regex ``'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+
  |\\s+(?!\\S)|\\s+`` including its alternation-order semantics
  (contractions win at their start position, a single literal space
  attaches to the following run, a whitespace run leaves its last char
  for the next token).  CJK/accented text now pre-tokenizes correctly.
- **Byte level**: each pre-token is encoded as its UTF-8 BYTES mapped
  through the GPT-2 byte->unicode remap (Radford et al. 2019,
  ``encoder.py bytes_to_unicode`` — the published table: printable
  latin-1 bytes map to themselves, the rest to U+0100..), and merges
  operate over that 256-symbol alphabet — exactly the symbol space of
  public ``merges.txt``/``vocab.json`` files (`` `` is ``Ġ``, multi-byte
  scripts split into per-byte symbols).  A vocab containing all 256
  byte symbols can never produce an OOV.

Tokens therefore live in REMAP space (``"Ġthe"``); :func:`decode`
inverts them (``decode(encode(text)) == text`` for any Unicode text —
the byte-level concatenation property), which is what lets token-budget
truncation reconstruct an exact prefix of the original text.  A
truncation that lands inside a multi-byte character keeps the longest
whole-character prefix (the partial trailing codepoint's bytes are
dropped — they decode to nothing meaningful by construction).

The merge LOOP is unbounded-depth (one iteration per merge applied), so
it runs as an Arrow-batched Pandas UDF rather than Spark HOFs — a
documented Python boundary (SCALE.md §0); plan shape: one ArrowEvalPython
over the projected text column, row-local, zero shuffle.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

Ranks = Dict[Tuple[str, str], int]

# ---------------------------------------------------------------- remap
# GPT-2 byte->unicode table (public: Radford et al. 2019 encoder.py):
# visible latin-1 bytes map to themselves; control/space bytes map to
# U+0100+n so every byte is a printable, space-free symbol.


def _byte_unicode_tables() -> tuple[dict, dict]:
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("¡"), ord("¬") + 1))
          + list(range(ord("®"), ord("ÿ") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    b2u = {b: chr(c) for b, c in zip(bs, cs)}
    return b2u, {u: b for b, u in b2u.items()}


BYTE_TO_UNICODE, UNICODE_TO_BYTE = _byte_unicode_tables()
# str.translate table over latin-1 chars: utf8-bytes -> latin-1 str ->
# translate is the fastest pure-Python byte remap
_B2U_TRANS = {b: u for b, u in BYTE_TO_UNICODE.items()}


def to_units(text: str) -> str:
    """Raw text -> remap-space symbol string (one char per UTF-8 byte)."""
    return text.encode("utf-8").decode("latin-1").translate(_B2U_TRANS)


def units_to_bytes(units: str) -> bytes:
    """Remap-space string (e.g. a joined token sequence) -> raw bytes."""
    return bytes(UNICODE_TO_BYTE[u] for u in units)


def decode(tokens: List[str]) -> str:
    """Invert :func:`encode`: remap-space tokens -> original text."""
    return units_to_bytes("".join(tokens)).decode("utf-8")


def _decode_byte_prefix(bs: bytes) -> str:
    """Decode a byte PREFIX of valid UTF-8 text, dropping a trailing
    partial codepoint (at most 3 bytes) if the cut landed inside one."""
    for cut in range(min(3, len(bs)) + 1):
        try:
            return bs[: len(bs) - cut].decode("utf-8")
        except UnicodeDecodeError:
            continue
    return bs.decode("utf-8", "ignore")  # pragma: no cover - not a prefix


def _decode_byte_slice(bs: bytes) -> str:
    """Decode a byte SLICE of valid UTF-8 text: drop leading
    continuation bytes (the tail of a codepoint cut at the slice start)
    then a trailing partial codepoint — the longest whole-character
    substring the slice covers."""
    i = 0
    while i < len(bs) and i < 3 and (bs[i] & 0xC0) == 0x80:
        i += 1
    return _decode_byte_prefix(bs[i:])


def chunk_tokens(text, size: int, stride: int, ranks: Ranks, cache: dict):
    """Token-window chunking (the $chunkText ``unit: "tokens"`` core):
    windows of ``size`` BPE tokens starting every ``stride`` tokens.
    Token boundaries partition the document's UTF-8 bytes, so each
    chunk's text is the EXACT substring those tokens cover (byte-offset
    slice of the original — whitespace intact; a window edge inside a
    multi-byte codepoint keeps the longest whole-character substring,
    so a codepoint whose bytes straddle an edge appears in NEITHER
    adjacent chunk — zero-overlap chunks partition the text exactly
    only at codepoint-aligned edges, always for ASCII).
    Returns ``[(idx, chunk_text, n_tokens)]``; None for None (advisor
    r8: null in -> null out, matching unit "words" and the rest of the
    tokenizer family — an empty/whitespace-only document, which HAS a
    value but no tokens, is the ``[]`` case)."""
    if text is None:
        return None
    toks = encode(text, ranks, cache)
    n = len(toks)
    if n == 0:
        return []
    # byte offsets: remap units are one char per byte, so a token's
    # byte length IS its unit length
    offs = [0]
    for t in toks:
        offs.append(offs[-1] + len(t))
    bs = text.encode("utf-8")
    n_chunks = max(1, -(-(n - (size - stride)) // stride))
    out = []
    for i in range(n_chunks):
        start = i * stride
        chunk = _decode_byte_slice(bs[offs[start]: offs[min(start + size, n)]])
        out.append((i, chunk, min(size, n - start)))
    return out


# --------------------------------------------------------- pre-tokenizer
# Scanner equivalent of the GPT-2 regex (see module docstring).  Python's
# `re` has no \p{L}/\p{N}, so classes come from str methods (Unicode-
# aware): isalpha = L*, isnumeric/isdigit = N* (isalpha is checked first
# so CJK numerals like 一 stay letters, as \p{L} classifies them),
# isspace = \s.  Per-char class lookups memoize in a module dict.

_CONTRACTIONS = ("s", "t", "re", "ve", "m", "ll", "d")  # GPT-2 order
_CLS_CACHE: Dict[str, str] = {}


def _cls(c: str) -> str:
    k = _CLS_CACHE.get(c)
    if k is None:
        if "\x1c" <= c <= "\x1f":
            # FS/GS/RS/US: Python isspace() says yes, but the Unicode
            # White_Space property (= regex \s, what GPT-2's pattern
            # uses) says no -> punctuation class (review r7,
            # differential vs the real regex found only these four)
            k = "P"
        elif c.isspace():
            k = "s"
        elif c.isalpha():
            k = "L"
        elif c.isnumeric() or c.isdigit():
            k = "N"
        else:
            k = "P"
        _CLS_CACHE[c] = k
    return k


def pretokenize(text: str) -> List[str]:
    """Split ``text`` exactly as GPT-2's pre-tokenizer regex would.
    Concatenation-preserving: ``"".join(pretokenize(t)) == t``."""
    out: List[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            # contraction alternatives win at their start position
            # (case-sensitive lowercase, the documented GPT-2 quirk)
            for suf in _CONTRACTIONS:
                if text.startswith(suf, i + 1):
                    out.append(text[i: i + 1 + len(suf)])
                    i += 1 + len(suf)
                    break
            else:
                j = i + 1
                while j < n and _cls(text[j]) == "P":
                    j += 1
                out.append(text[i:j])
                i = j
            continue
        k = _cls(c)
        if k == "s":
            if c == " " and i + 1 < n and _cls(text[i + 1]) != "s":
                # ` ?X+`: one literal space attaches to the next run
                kind = _cls(text[i + 1])
                j = i + 2
                while j < n and _cls(text[j]) == kind:
                    j += 1
                out.append(text[i:j])
            else:
                # `\s+(?!\S)` then `\s+`: a whitespace run followed by
                # non-space leaves its LAST char to (maybe) attach
                j = i
                while j < n and _cls(text[j]) == "s":
                    j += 1
                if j < n and j - i > 1:
                    j -= 1
                out.append(text[i:j])
            i += len(out[-1])
            continue
        j = i + 1
        while j < n and _cls(text[j]) == k:
            j += 1
        out.append(text[i:j])
        i = j
    return out


_MEMO_CAP = 1_000_000


def trim_memo(cache: dict) -> None:
    """Bound a per-task word memo (the tokenizer UDF closures call this
    at each Arrow batch): one policy, one place (review r7)."""
    if len(cache) > _MEMO_CAP:
        cache.clear()


def ship():
    """Register this module for pickle-by-value so executors need no
    package install for the tokenizer closures (same pattern as the
    jq/JSLT tier-2 interpreters)."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover - older pickler
        pass


def broadcast_tokenizer(ctx, merges_name: str, vocab_name=None):
    """Resolve, validate, and broadcast ``(ranks, vocab)`` ONCE per
    (merges, vocab) name pair per Context: the broadcast memoizes on the
    Context, so foreachBatch's per-micro-batch stage recompilation
    reuses one broadcast instead of re-collecting the tables and
    leaking a new broadcast every batch.  The memo key includes the
    IDENTITY of the resolved DataFrames (advisor r6): rebinding a
    collection name to a different DataFrame on the same Context is
    picked up — the stale broadcast is unpersisted (safe for plans
    already compiled against it) and the new model collected.
    (``Context.collection`` caches loader results, so a
    ``collection_loader`` path still collects once per Context.)  Long-
    lived Contexts can free executor memory with
    :func:`release_broadcasts`."""
    cache = ctx._bpe_broadcasts
    # resolve FIRST (Context.collection caches loader results), then key
    # the memo on the resolved DataFrame identities: same frames -> one
    # broadcast forever; a rebound name -> unpersist + re-collect
    try:
        mdf = ctx.collection(merges_name)
    except KeyError:
        raise ValueError(
            f"tokenizer.merges: unknown collection {merges_name!r} — wire "
            "it as Context(collections={...}) or via a collection_loader")
    vdf = None
    if vocab_name is not None:
        try:
            vdf = ctx.collection(vocab_name)
        except KeyError as e:
            raise ValueError(f"tokenizer.vocab: {e}") from e
    names = (merges_name, vocab_name)
    # hold STRONG references in the memo key (review r7): a bare id()
    # could be recycled by the allocator after the old DataFrame is
    # garbage-collected, silently serving the stale model for new data
    frames = (mdf, vdf)
    hit = cache.get(names)
    if hit is not None:
        if hit[0][0] is mdf and hit[0][1] is vdf:
            return hit[1]
        # a name was rebound to a different DataFrame: evict the stale
        # model.  unpersist (NOT destroy): DataFrames compiled against
        # the old model may still be live — unpersist frees the executor
        # copies now and transparently re-ships if such a plan runs
        # again; destroy would poison it (INTERNAL_ERROR_BROADCAST)
        try:
            hit[1].unpersist()
        except Exception:  # pragma: no cover - already released
            pass
        del cache[names]
    ranks = _ranks_from_df(mdf)
    vocab = None
    if vdf is not None:
        if not {"token", "id"} <= set(vdf.columns):
            raise ValueError(
                "tokenizer.vocab collection needs (token, id) columns")
        rows = vdf.select("token", "id").collect()
        if not rows:
            # fail fast like the merges path: an empty vocab would
            # silently map EVERY token to -1
            raise ValueError("tokenizer.vocab collection is empty")
        vocab = {r["token"]: int(r["id"]) for r in rows}
    bc = ctx.spark.sparkContext.broadcast((ranks, vocab))
    cache[names] = (frames, bc)
    return bc


def broadcast_vocab(ctx, vocab_name: str):
    """Broadcast just the ``token -> id`` vocab (the $bpeDecode id path
    needs no merge table) — same per-Context memo/rebind/release
    discipline as :func:`broadcast_tokenizer`, stored under the
    ``(None, vocab_name)`` key so the two never collide."""
    cache = ctx._bpe_broadcasts
    try:
        vdf = ctx.collection(vocab_name)
    except KeyError as e:
        raise ValueError(f"tokenizer.vocab: {e}") from e
    names = (None, vocab_name)
    frames = (None, vdf)  # strong ref, same reason as broadcast_tokenizer
    hit = cache.get(names)
    if hit is not None:
        if hit[0][1] is vdf:
            return hit[1]
        try:
            hit[1].unpersist()
        except Exception:  # pragma: no cover - already released
            pass
        del cache[names]
    if not {"token", "id"} <= set(vdf.columns):
        raise ValueError(
            "tokenizer.vocab collection needs (token, id) columns")
    rows = vdf.select("token", "id").collect()
    if not rows:
        raise ValueError("tokenizer.vocab collection is empty")
    bc = ctx.spark.sparkContext.broadcast(
        {r["token"]: int(r["id"]) for r in rows})
    cache[names] = (frames, bc)
    return bc


def decode_ids(ids, rev: Dict[int, str], null_on_err: bool):
    """Vocab ids -> text: map ids through the reverse vocab, join, and
    invert the byte remap.  Unknown ids or a byte sequence that is not
    valid UTF-8 raise (or yield None with ``null_on_err``)."""
    toks: List[str] = []
    for i in ids:
        if i is None or i != i:  # null / NaN element (review r7)
            if null_on_err:
                return None
            raise ValueError("$bpeDecode: null id element in input")
        t = rev.get(int(i))
        if t is None:
            if null_on_err:
                return None
            raise ValueError(f"$bpeDecode: id {int(i)} not in vocab")
        toks.append(t)
    try:
        return decode(toks)
    except (UnicodeDecodeError, KeyError):
        if null_on_err:
            return None
        raise ValueError(
            "$bpeDecode: token sequence is not valid UTF-8 (a slice can "
            "cut a multi-byte codepoint; use onError: 'null' to tolerate)")


def release_broadcasts(ctx) -> int:
    """Destroy every tokenizer broadcast memoized on ``ctx`` and clear
    the memo; returns how many were released.  For long-lived Contexts
    that cycle through many tokenizer models (advisor r6).  destroy()
    is final — call only when no DataFrame compiled against these
    models is still going to execute; the rebind path inside
    :func:`broadcast_tokenizer` uses the gentler unpersist for exactly
    that reason."""
    cache = ctx._bpe_broadcasts
    n = 0
    for _, bc in cache.values():
        try:
            bc.destroy()
        except Exception:  # pragma: no cover - already destroyed
            pass
        n += 1
    cache.clear()
    return n


def _ranks_from_df(df) -> Ranks:
    """Collect a merge-rank DataFrame into ``{(l, r): rank}``.
    Driver-side and metadata-sized by contract (the table IS the model,
    like the $dsirScore hashed-ngram tables).  Symbols are remap-space
    (the public merges.txt alphabet: ``Ġ`` for space, per-byte symbols
    for multi-byte scripts) — byte-level symbols never contain a literal
    space, so both column forms are fully expressive."""
    cols = set(df.columns)
    if {"left", "right", "rank"} <= cols:
        rows = df.select("left", "right", "rank").collect()
        ranks = {(r["left"], r["right"]): int(r["rank"]) for r in rows}
    elif {"pair", "rank"} <= cols:
        # merges.txt line form: two space-separated remap-space symbols
        ranks = {}
        for r in df.select("pair", "rank").collect():
            parts = r["pair"].split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"tokenizer.merges: pair {r['pair']!r} must be two "
                    "space-separated symbols (byte-level symbols are "
                    "space-free; raw-space symbols are not valid — remap "
                    "spaces to Ġ)")
            ranks[(parts[0], parts[1])] = int(r["rank"])
    else:
        raise ValueError(
            "tokenizer.merges collection needs columns (left, right, rank) "
            f"or (pair, rank); got {sorted(cols)}")
    if not ranks:
        raise ValueError("tokenizer.merges collection is empty")
    return ranks


def _apply_merge(syms: List[str], pair: Tuple[str, str]) -> List[str]:
    """Greedy left-to-right replacement of every adjacent occurrence of
    ``pair`` — THE single definition of one merge application, shared by
    the encoder and the trainer so their semantics cannot drift."""
    merged: List[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
            merged.append(syms[i] + syms[i + 1])
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return merged


def bpe_word(units: str, ranks: Ranks, cache: dict) -> List[str]:
    """Encode ONE pre-token already in remap space: start from single
    byte symbols, repeatedly merge all occurrences of the lowest-rank
    adjacent pair."""
    hit = cache.get(units)
    if hit is not None:
        return hit
    parts: List[str] = list(units)
    while len(parts) > 1:
        best = None
        best_rank = None
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best = (parts[i], parts[i + 1])
        if best is None:
            break
        parts = _apply_merge(parts, best)
    cache[units] = parts
    return parts


def encode(text: str, ranks: Ranks, cache: dict) -> List[str]:
    """Full-text byte-level BPE: pre-tokenize, remap each pre-token's
    UTF-8 bytes, encode.  Tokens are remap-space (``"Ġthe"``);
    ``decode(encode(text)) == text`` exactly."""
    out: List[str] = []
    for pt in pretokenize(text):
        out.extend(bpe_word(to_units(pt), ranks, cache))
    return out


def count_tokens(text, ranks: Ranks, cache: dict):
    if text is None:
        return None
    n = 0
    for pt in pretokenize(text):
        n += len(bpe_word(to_units(pt), ranks, cache))
    return n


def train(word_counts, n_merges: int, min_pair_count: int = 2):
    """Learn ``n_merges`` BPE merge rules from ``{word: count}`` (words
    are RAW pre-token strings; training runs over their remap-space
    byte symbols, so the learned table is directly consumable by the
    encoder and format-compatible with public merges files) — the
    standard frequency-greedy training loop (Sennrich et al. 2016) with
    the classic incremental pair-count bookkeeping: maintain a pair ->
    count map and a pair -> {word ids} index, each round merge the most
    frequent pair inside the words that contain it and update only the
    pairs those words touched.  Deterministic: ties break on the pair
    itself.  Returns ``[(left, right, rank)]``.  Runs on the DRIVER over
    the (bounded) word-frequency table — see the $bpeTrain stage for the
    distributed aggregation that produces it."""
    words = {i: (list(to_units(w)), c)
             for i, (w, c) in enumerate(word_counts.items())}
    pair_counts: Dict[Tuple[str, str], int] = {}
    where: Dict[Tuple[str, str], set] = {}

    def add_word(wid, sign=1):
        syms, c = words[wid]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + sign * c
            if sign > 0:
                where.setdefault(p, set()).add(wid)

    for wid in words:
        add_word(wid)
    merges: List[Tuple[str, str, int]] = []
    for rank in range(n_merges):
        best = None
        best_c = min_pair_count - 1
        for p, c in pair_counts.items():
            if c > best_c or (c == best_c and best is not None and p < best):
                best, best_c = p, c
        if best is None:
            break
        merges.append((best[0], best[1], rank))
        for wid in list(where.get(best, ())):
            syms, c = words[wid]
            add_word(wid, sign=-1)  # retract this word's old pairs
            words[wid] = (_apply_merge(syms, best), c)
            add_word(wid)
        pair_counts.pop(best, None)
        where.pop(best, None)
        # retracting can zero out pairs; drop them so the argmax scan
        # stays proportional to live pairs
        if rank % 64 == 63:
            dead = [p for p, c in pair_counts.items() if c <= 0]
            for p in dead:
                pair_counts.pop(p, None)
                where.pop(p, None)
    return merges


def truncate_tokens(text, max_n: int, ranks: Ranks, cache: dict):
    """Exact-prefix truncation to ``max_n`` BPE tokens: fully-kept
    pre-tokens contribute their raw text verbatim; a partially-kept
    pre-token contributes the decode of its kept tokens' bytes (the
    longest whole-character prefix if the token boundary falls inside
    a multi-byte codepoint)."""
    if text is None:
        return None
    kept: List[str] = []
    n = 0
    for pt in pretokenize(text):
        toks = bpe_word(to_units(pt), ranks, cache)
        if n + len(toks) <= max_n:
            kept.append(pt)  # whole pre-token survives verbatim
            n += len(toks)
            if n == max_n:
                break
        else:
            head = "".join(toks[: max_n - n])
            kept.append(_decode_byte_prefix(units_to_bytes(head)))
            break
    return "".join(kept)
