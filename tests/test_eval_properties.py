"""Randomized-differential properties for the eval family — arbitrary
Unicode pairs (multi-byte, whitespace runs, punctuation, articles,
repeats), ONE Spark job per stage, every row compared against the
independent Python implementations (the edit_distance_join
randomized-differential precedent, seeded for reproducibility).

Invariants pinned besides value-equality:
- all scores live in [0, 1];
- chrF is whitespace-layout-invariant and 1.0 on identical non-empty
  texts;
- $qaEval: exact_match = 1 implies f1 = 1;
- $bleuCorpus over the rows equals the independent corpus aggregation
  (NOT the mean of the sentence scores).
"""

import math
import random

import numpy as np
import pytest

from pincette_mongo_streams_spark import Context, compile_pipeline

from tests.test_corpus_signals import (  # noqa: F401
    _ref_bleu, _ref_bleu_multi, _ref_chrf, _ref_qa,
)

_CHARS = list("ab the.?! an') cd") + ["é", "日", "🚀", "½", " x"]


def _rand_text(rng, max_words=12):
    n = rng.randint(0, max_words)
    words = []
    for _ in range(n):
        w = "".join(rng.choice(_CHARS)
                    for _ in range(rng.randint(1, 4))).strip()
        words.append(w or "w")
    sep = rng.choice([" ", "  ", " \t ", "\n"])
    return sep.join(words)


def _pairs(seed, n=150):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        c = _rand_text(rng)
        # bias toward related pairs: sometimes the reference is the
        # candidate with edits, sometimes independent
        if rng.random() < 0.5:
            r = c + (" " + _rand_text(rng, 3) if rng.random() < 0.5
                     else "")
        else:
            r = _rand_text(rng)
        out.append((i, c, r))
    return out


def test_chrf_randomized_differential(spark):
    rows = _pairs(9001)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x["s"] for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "reference": "$r", "as": "s"}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        want = _ref_chrf(c, r)
        assert abs(got[i] - want) < 1e-12, (i, c, r, got[i], want)
        assert 0.0 <= got[i] <= 1.0 + 1e-15
    # layout invariance + identity
    df2 = spark.createDataFrame(
        [(i, c.replace(" ", "\n \t"), c) for i, c, _ in rows[:40]],
        "i long, c string, r string")
    got2 = {x["i"]: x["s"] for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "reference": "$r", "as": "s"}}],
        Context(spark=spark))(df2).collect()}
    for i, c, _ in rows[:40]:
        stripped = "".join(
            w for w in __import__("re").split(r"[ \t\n\r\f\x0b]", c))
        if stripped:
            assert got2[i] == 1.0, (i, c)


def test_qa_eval_randomized_differential(spark):
    rng = random.Random(4242)
    rows = []
    for i in range(150):
        p = _rand_text(rng, 8)
        answers = [_rand_text(rng, 8)
                   for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.3:
            answers.append("The " + p + "!")  # normalizes equal
        rows.append((i, p, answers))
    df = spark.createDataFrame(rows, "i long, p string, a array<string>")
    got = {x["i"]: x["q"] for x in compile_pipeline(
        [{"$qaEval": {"prediction": "$p", "answers": "$a", "as": "q"}}],
        Context(spark=spark))(df).collect()}
    for i, p, answers in rows:
        em, f1 = _ref_qa(p, answers)
        q = got[i]
        assert q["exact_match"] == em, (i, p, answers)
        assert abs(q["f1"] - f1) < 1e-12, (i, p, answers, q["f1"], f1)
        assert 0.0 <= q["f1"] <= 1.0 + 1e-15
        if q["exact_match"] == 1.0:
            assert abs(q["f1"] - 1.0) < 1e-12


def test_bleu_randomized_differential_scalar_and_multi(spark):
    rows = _pairs(7777, 120)
    rng = random.Random(31)
    multi = [(i, c, [r, _rand_text(rng, 6)]) for i, c, r in rows]
    df = spark.createDataFrame(rows, "i long, c string, r string")
    dfm = spark.createDataFrame(multi,
                                "i long, c string, refs array<string>")
    for smooth in (None, "add1"):
        spec = {"candidate": "$c", "reference": "$r", "as": "b"}
        mspec = {"candidate": "$c", "references": "$refs", "as": "b"}
        if smooth:
            spec["smooth"] = mspec["smooth"] = smooth
        got = {x["i"]: x["b"] for x in compile_pipeline(
            [{"$bleu": spec}], Context(spark=spark))(df).collect()}
        for i, c, r in rows:
            want = _ref_bleu(c, r, 4, smooth)
            assert abs(got[i] - want) < 1e-12, (smooth, i, c, r)
        gotm = {x["i"]: x["b"] for x in compile_pipeline(
            [{"$bleu": mspec}], Context(spark=spark))(dfm).collect()}
        for i, c, refs in multi:
            want = _ref_bleu_multi(c, refs, 4, smooth)
            assert abs(gotm[i] - want) < 1e-12, (smooth, i, c, refs)


def test_bleu_corpus_equals_independent_aggregation(spark):
    import re as _re
    aws = _re.compile(r"[ \t\n\r\f\x0b]+").split  # Java \s
    rows = [(i, c, r) for i, c, r in _pairs(555, 80)
            if [w for w in aws(c) if w]]  # drop empty candidates
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = compile_pipeline(
        [{"$bleuCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 2}}],
        Context(spark=spark))(df).collect()[0]
    # independent aggregation (maxN=2 keeps zero-match flukes rare)
    from collections import Counter
    M = [0] * 3
    T = [0] * 3
    CL = RL = 0
    for _, c, r in rows:
        wc = [w for w in aws(c) if w]
        wr = [w for w in aws(r) if w]
        CL += len(wc)
        RL += len(wr)
        for n in (1, 2):
            gc = [" ".join(wc[j:j + n]) for j in range(len(wc) - n + 1)]
            gr = [" ".join(wr[j:j + n]) for j in range(len(wr) - n + 1)]
            cc, cr = Counter(gc), Counter(gr)
            M[n] += sum(min(v, cr[g]) for g, v in cc.items())
            T[n] += len(gc)
    if any(T[n] == 0 or M[n] == 0 for n in (1, 2)):
        want = 0.0
    else:
        logs = sum(math.log(M[n] / T[n]) / 2 for n in (1, 2))
        bp = 1.0 if CL >= RL else math.exp(1 - RL / CL)
        want = bp * math.exp(logs)
    assert abs(got["bleu"] - want) < 1e-12
    assert got["n_segments"] == len(rows)
    # and it is NOT the averaged sentence BLEU (different statistic)
    sent = [_ref_bleu(c, r, 2, None) for _, c, r in rows]
    assert abs(got["bleu"] - sum(sent) / len(sent)) > 1e-9


def test_wer_randomized_differential(spark):
    """$wer vs an independent full-matrix Levenshtein over arbitrary
    Unicode pairs, plus the edges: identical -> 0, empty-vs-empty ->
    wer 0, empty-ref nonempty-hyp -> null wer with distance reported,
    null -> null struct."""
    def ref_lev(a, b):
        import re as _re
        aws = _re.compile(r"[ \t\n\r\f\x0b]+").split
        wa = [w for w in aws(a) if w][:2000]
        wb = [w for w in aws(b) if w][:2000]
        d = [[0] * (len(wb) + 1) for _ in range(len(wa) + 1)]
        for i in range(len(wa) + 1):
            d[i][0] = i
        for j in range(len(wb) + 1):
            d[0][j] = j
        for i in range(1, len(wa) + 1):
            for j in range(1, len(wb) + 1):
                d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                              d[i - 1][j - 1] + (wa[i - 1] != wb[j - 1]))
        return d[-1][-1], len(wa), len(wb)

    rows = _pairs(2024, 120)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x["w"] for x in compile_pipeline(
        [{"$wer": {"candidate": "$c", "reference": "$r", "as": "w"}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        d, nh, nr = ref_lev(c, r)
        g = got[i]
        assert g["distance"] == d and g["n_hyp"] == nh \
            and g["n_ref"] == nr, (i, c, r)
        if nr:
            assert abs(g["wer"] - d / nr) < 1e-12
        elif nh:
            assert g["wer"] is None
        else:
            assert g["wer"] == 0.0
    edges = spark.createDataFrame(
        [(1, "a b c", "a b c"), (2, "", ""), (3, "x y", ""),
         (4, None, "x"), (5, "a x c", "a b c")],
        "i long, c string, r string")
    e = {x["i"]: x["w"] for x in compile_pipeline(
        [{"$wer": {"candidate": "$c", "reference": "$r", "as": "w"}}],
        Context(spark=spark))(edges).collect()}
    assert e[1]["distance"] == 0 and e[1]["wer"] == 0.0
    assert e[2]["distance"] == 0 and e[2]["wer"] == 0.0
    assert e[3]["distance"] == 2 and e[3]["wer"] is None
    assert e[4] is None
    assert e[5]["distance"] == 1 and abs(e[5]["wer"] - 1 / 3) < 1e-12


def test_ngram_overlap_multireference_differential(spark):
    """$ngramOverlap references: Lin 2004 §4 ROUGE-N multi-ref — the
    best-f1 reference's full struct, ties to array order; randomized
    differential vs an independent implementation."""
    import re as _re
    from collections import Counter

    aws = _re.compile(r"[ \t\n\r\f\x0b]+").split

    def ref_ov(c, refs, n):
        wc = [w for w in aws(c) if w][:2000]
        gc = [" ".join(wc[i:i + n]) for i in range(len(wc) - n + 1)]
        best = None
        for rt in refs:
            if rt is None:
                continue
            wr = [w for w in aws(rt) if w][:2000]
            gr = [" ".join(wr[i:i + n]) for i in range(len(wr) - n + 1)]
            cc, cr = Counter(gc), Counter(gr)
            m = sum(min(v, cr[g]) for g, v in cc.items())
            p = m / len(gc) if gc else 0.0
            r = m / len(gr) if gr else 0.0
            f = 2 * p * r / (p + r) if p + r else 0.0
            cur = (len(gc), len(gr), m, p, r, f)
            if best is None or f > best[5]:
                best = cur
        return best

    rng = random.Random(88)
    rows = []
    for i in range(100):
        c = _rand_text(rng)
        refs = [_rand_text(rng) for _ in range(rng.randint(1, 3))]
        rows.append((i, c, refs))
    df = spark.createDataFrame(rows, "i long, c string, refs array<string>")
    for n in (1, 2):
        got = {x["i"]: x["ov"] for x in compile_pipeline(
            [{"$ngramOverlap": {"candidate": "$c", "references": "$refs",
                                "n": n, "as": "ov"}}],
            Context(spark=spark))(df).collect()}
        for i, c, refs in rows:
            want = ref_ov(c, refs, n)
            g = got[i]
            assert (g["n_cand"], g["n_ref"], g["n_match"]) == want[:3], \
                (n, i, c, refs)
            for gv, wv in zip((g["precision"], g["recall"], g["f1"]),
                              want[3:]):
                assert abs(gv - wv) < 1e-12, (n, i, c, refs)
    with pytest.raises(ValueError, match="exactly one"):
        compile_pipeline([{"$ngramOverlap": {"candidate": "$c"}}],
                         Context(spark=spark))


def test_chrf_corpus_equals_independent_aggregation(spark):
    """$chrfCorpus equals the independent corpus aggregation of chrF
    statistics (sum-then-score, NOT the mean of sentence chrF); null
    segments excluded; corpus-only gated."""
    import re as _re
    from collections import Counter

    rows = _pairs(808, 80)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = compile_pipeline(
        [{"$chrfCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 4}}],
        Context(spark=spark))(df).collect()[0]
    strip = lambda t: _re.sub(r"[ \t\n\r\f\x0b]+", "", t)[:2000]  # noqa
    M = [0] * 5
    TC = [0] * 5
    TR = [0] * 5
    for _, c, r in rows:
        sc, sr = strip(c), strip(r)
        for n in range(1, 5):
            gc = [sc[i:i + n] for i in range(len(sc) - n + 1)]
            gr = [sr[i:i + n] for i in range(len(sr) - n + 1)]
            cc, cr = Counter(gc), Counter(gr)
            M[n] += sum(min(v, cr[g]) for g, v in cc.items())
            TC[n] += len(gc)
            TR[n] += len(gr)
    eff = sum(1 for n in range(1, 5) if TC[n] or TR[n])
    ps = sum(M[n] / TC[n] for n in range(1, 5) if TC[n]) / eff
    rs = sum(M[n] / TR[n] for n in range(1, 5) if TR[n]) / eff
    want = (5 * ps * rs / (4 * ps + rs)) if ps + rs else 0.0
    assert abs(got["chrf"] - want) < 1e-12
    assert got["n_segments"] == len(rows)
    # sentence-mean is a different statistic
    mean = sum(_ref_chrf(c, r, 4) for _, c, r in rows) / len(rows)
    assert abs(got["chrf"] - mean) > 1e-9
    # corpus-only gate
    from pincette_mongo_streams_spark.streaming.runtime import (
        run_streaming,
    )
    src = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS STRING) AS c",
                       "CAST(value AS STRING) AS r"))
    with pytest.raises(ValueError, match="corpus-wide"):
        run_streaming(
            src,
            [{"$chrfCorpus": {"candidate": "$c", "reference": "$r"}}],
            Context(spark=spark), lambda d, e: None)
    mb = Context(spark=spark)
    mb.micro_batch = True
    with pytest.raises(ValueError, match="corpus-wide"):
        compile_pipeline(
            [{"$chrfCorpus": {"candidate": "$c", "reference": "$r"}}],
            mb)(df)


def _ref_lev_words(a, b, max_words=2000):
    import re as _re
    aws = _re.compile(r"[ \t\n\r\f\x0b]+").split
    wa = [w for w in aws(a) if w][:max_words]
    wb = [w for w in aws(b) if w][:max_words]
    d = [[0] * (len(wb) + 1) for _ in range(len(wa) + 1)]
    for i in range(len(wa) + 1):
        d[i][0] = i
    for j in range(len(wb) + 1):
        d[0][j] = j
    for i in range(1, len(wa) + 1):
        for j in range(1, len(wb) + 1):
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                          d[i - 1][j - 1] + (wa[i - 1] != wb[j - 1]))
    return d[-1][-1], len(wa), len(wb)


def _ref_wer_multi(c, refs):
    """Independent best-reference selection: min wer, ties min
    distance then min reference length; undefined wer sorts last."""
    refs = [r for r in refs if r is not None]
    if c is None or not refs:
        return None
    best = None
    for r in refs:
        d, nh, nr = _ref_lev_words(c, r)
        w = d / nr if nr else (0.0 if not nh else None)
        key = (w if w is not None else float("inf"), d, nr)
        if best is None or key < best[0]:
            best = (key, (d, w, nh, nr))
    return best[1]


def test_chrf_multireference_differential(spark):
    """$chrf references: max over per-reference scores (sacrebleu
    multi-ref convention); 1-element array equals the scalar form;
    null elements dropped; empty/null array -> null."""
    rng = random.Random(31337)
    rows = []
    for i in range(120):
        c = _rand_text(rng)
        refs = [_rand_text(rng) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.3:
            refs.append(c)  # an exact reference forces the max to 1.0
        rows.append((i, c, refs))
    df = spark.createDataFrame(rows, "i long, c string, rs array<string>")
    got = {x["i"]: x["s"] for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "references": "$rs", "as": "s"}}],
        Context(spark=spark))(df).collect()}
    for i, c, refs in rows:
        want = max(_ref_chrf(c, r) for r in refs)
        assert abs(got[i] - want) < 1e-12, (i, c, refs, got[i], want)
    # 1-element array == scalar form
    one = spark.createDataFrame(
        [(i, c, [r]) for i, c, r in _pairs(55, 40)],
        "i long, c string, rs array<string>")
    got1 = {x["i"]: x["s"] for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "references": "$rs", "as": "s"}}],
        Context(spark=spark))(one).collect()}
    for i, c, r in _pairs(55, 40):
        assert abs(got1[i] - _ref_chrf(c, r)) < 1e-12
    # edges
    edges = spark.createDataFrame(
        [(1, "abc", []), (2, "abc", None), (3, None, ["x"]),
         (4, "abc", [None]), (5, "abc", [None, "abc"])],
        "i long, c string, rs array<string>")
    e = {x["i"]: x["s"] for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "references": "$rs", "as": "s"}}],
        Context(spark=spark))(edges).collect()}
    assert e[1] is None and e[2] is None and e[3] is None \
        and e[4] is None
    assert e[5] == 1.0
    # config guard
    with pytest.raises(ValueError, match="exactly one"):
        compile_pipeline([{"$chrf": {"candidate": "$c"}}],
                         Context(spark=spark))
    with pytest.raises(ValueError, match="exactly one"):
        compile_pipeline(
            [{"$chrf": {"candidate": "$c", "reference": "$r",
                        "references": "$rs"}}], Context(spark=spark))


def test_wer_multireference_differential(spark):
    """$wer references: best-matching reference (min wer, NIST) vs the
    independent Python selection; undefined-wer references chosen only
    when all are undefined."""
    rng = random.Random(777)
    rows = []
    for i in range(120):
        c = _rand_text(rng)
        refs = [_rand_text(rng) for _ in range(rng.randint(1, 3))]
        rows.append((i, c, refs))
    df = spark.createDataFrame(rows, "i long, c string, rs array<string>")
    got = {x["i"]: x["w"] for x in compile_pipeline(
        [{"$wer": {"candidate": "$c", "references": "$rs", "as": "w"}}],
        Context(spark=spark))(df).collect()}
    for i, c, refs in rows:
        want = _ref_wer_multi(c, refs)
        g = got[i]
        assert (g is None) == (want is None), (i, c, refs)
        if want is not None:
            d, w, nh, nr = want
            assert g["distance"] == d and g["n_hyp"] == nh \
                and g["n_ref"] == nr, (i, c, refs, g, want)
            if w is None:
                assert g["wer"] is None
            else:
                assert abs(g["wer"] - w) < 1e-12
    edges = spark.createDataFrame(
        [(1, "a b", []), (2, "a b", None), (3, None, ["x"]),
         (4, "a b", ["", ""]), (5, "a b", ["", "a b"]),
         (6, "a x", ["q r s", "a b"])],
        "i long, c string, rs array<string>")
    e = {x["i"]: x["w"] for x in compile_pipeline(
        [{"$wer": {"candidate": "$c", "references": "$rs", "as": "w"}}],
        Context(spark=spark))(edges).collect()}
    assert e[1] is None and e[2] is None and e[3] is None
    # all references undefined: null wer, smallest distance reported
    assert e[4]["wer"] is None and e[4]["distance"] == 2
    assert e[5]["wer"] == 0.0 and e[5]["distance"] == 0
    # min wer wins over ref order
    assert abs(e[6]["wer"] - 0.5) < 1e-12 and e[6]["n_ref"] == 2


def test_wer_corpus_equals_independent_aggregation(spark):
    """$werCorpus = total distance / total reference words (NOT the
    mean of per-segment WERs); null segments excluded; multi-ref picks
    the best reference per segment before summing; corpus-only
    gated."""
    rows = _pairs(6006, 80)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = compile_pipeline(
        [{"$werCorpus": {"candidate": "$c", "reference": "$r"}}],
        Context(spark=spark))(df).collect()[0]
    tot_d = tot_h = tot_r = 0
    for _, c, r in rows:
        d, nh, nr = _ref_lev_words(c, r)
        tot_d, tot_h, tot_r = tot_d + d, tot_h + nh, tot_r + nr
    assert got["distance"] == tot_d and got["n_hyp"] == tot_h \
        and got["n_ref"] == tot_r
    assert got["n_segments"] == len(rows)
    assert abs(got["wer"] - tot_d / tot_r) < 1e-12
    # NOT the mean of per-segment WERs
    per = [(_ref_lev_words(c, r)) for _, c, r in rows]
    defined = [(d / nr) for d, _, nr in per if nr]
    assert abs(got["wer"] - sum(defined) / len(defined)) > 1e-9
    # null exclusion
    df2 = spark.createDataFrame(
        [("a b", "a x"), (None, "z"), ("m", None)],
        "c string, r string")
    g2 = compile_pipeline(
        [{"$werCorpus": {"candidate": "$c", "reference": "$r"}}],
        Context(spark=spark))(df2).collect()[0]
    assert g2["n_segments"] == 1 and g2["distance"] == 1
    # multi-ref: per-segment best then sum
    df3 = spark.createDataFrame(
        [("a b c", ["a b x", "a b c"]), ("q r", ["q"])],
        "c string, rs array<string>")
    g3 = compile_pipeline(
        [{"$werCorpus": {"candidate": "$c", "references": "$rs"}}],
        Context(spark=spark))(df3).collect()[0]
    assert g3["distance"] == 1 and g3["n_ref"] == 4 \
        and abs(g3["wer"] - 0.25) < 1e-12
    # corpus-only gate (micro-batch re-entry)
    mb = Context(spark=spark)
    mb.micro_batch = True
    with pytest.raises(ValueError, match="corpus-wide"):
        compile_pipeline(
            [{"$werCorpus": {"candidate": "$c", "reference": "$r"}}],
            mb)(df)


# ---- r11 $ter / $terCorpus (Snover 2006) -----------------------------

def _ref_ter(c, r, max_words=250, mss=10, msd=50):
    """Independent implementation of the PINNED $ter semantics
    (maximal-span candidates, align-with-occurrence reinsertion,
    greedy smallest-distance with first-found ties) using a naive
    full-matrix Levenshtein — no banding and no early exits.  Each
    round scores all of its candidates in one numpy pass and takes the
    first one at the smallest distance, which is what a scan stopping
    at the first d == 0 picks too."""
    import re as _re

    ws = _re.compile(r"[ \t\n\r\f\x0b]+").split
    hyp = [w for w in ws(c) if w][:max_words]
    ref = [w for w in ws(r) if w][:max_words]
    ids: dict = {}
    ref_ids = np.array([ids.setdefault(w, len(ids)) for w in ref],
                       dtype=np.int64)
    cols = np.arange(len(ref) + 1)

    def lev(cands):
        # one full matrix per candidate, filled a row at a time for all
        # candidates together; the left-neighbour term of a row is a
        # running minimum of (cell - column) plus the column
        a = np.array([[ids.setdefault(w, len(ids)) for w in x]
                      for x in cands], dtype=np.int64).reshape(len(cands), -1)
        prev = np.broadcast_to(cols, (len(cands), len(ref) + 1))
        for i in range(a.shape[1]):
            row = np.empty_like(prev)
            row[:, 0] = i + 1
            row[:, 1:] = np.minimum(prev[:, 1:] + 1,
                                    prev[:, :-1] + (a[:, i, None] != ref_ids))
            prev = np.minimum.accumulate(row - cols, axis=1) + cols
        return prev[:, -1]

    base = int(lev([hyp])[0])
    shifts = 0
    if ref:
        while base > 0:
            cands = []
            for i in range(len(hyp)):
                for k in (k for k, w in enumerate(ref) if w == hyp[i]):
                    if abs(i - k) > msd:
                        continue
                    l = 1
                    while (i + l < len(hyp) and k + l < len(ref)
                           and l < mss and hyp[i + l] == ref[k + l]):
                        l += 1
                    rest = hyp[:i] + hyp[i + l:]
                    at = min(k, len(rest))
                    if at == i:
                        continue
                    cands.append(rest[:at] + hyp[i:i + l] + rest[at:])
            if not cands:
                break
            d = lev(cands)
            best = int(np.argmin(d))  # the first candidate at the minimum
            if d[best] > base - 1:
                break
            shifts += 1
            base, hyp = int(d[best]), cands[best]
    edits = shifts + base
    if ref:
        t = edits / len(ref)
    else:
        t = 0.0 if not hyp else None
    return edits, t, shifts, len(hyp), len(ref)


def _shifty_pairs(seed, n=80):
    """Pairs biased to exercise shifts: small vocab (repeats), and
    half the candidates are the reference with a span moved."""
    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(6)]
    out = []
    for i in range(n):
        m = rng.randint(0, 14)
        ref = [rng.choice(vocab) for _ in range(m)]
        if m >= 4 and rng.random() < 0.5:
            a = rng.randrange(m - 2)
            l = rng.randint(1, min(3, m - a))
            span = ref[a:a + l]
            rest = ref[:a] + ref[a + l:]
            at = rng.randint(0, len(rest))
            hyp = rest[:at] + span + rest[at:]
            if rng.random() < 0.4:  # plus a substitution
                j = rng.randrange(len(hyp))
                hyp = hyp[:j] + ["zz"] + hyp[j + 1:]
        else:
            hyp = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
        out.append((i, " ".join(hyp), " ".join(ref)))
    return out


def test_ter_randomized_differential(spark):
    """$ter vs the independent pinned-semantics implementation over
    shift-heavy small-vocab pairs AND the arbitrary-Unicode pairs the
    other eval differentials use."""
    rows = _shifty_pairs(31337, 80) + [
        (1000 + i, c, r) for i, c, r in _pairs(777, 60)]
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x["t"] for x in compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t"}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        e, t, sh, nh, nr = _ref_ter(c, r)
        g = got[i]
        assert g["edits"] == e and g["shifts"] == sh, (i, c, r)
        assert g["n_hyp"] == nh and g["n_ref"] == nr
        if t is None:
            assert g["ter"] is None
        else:
            assert abs(g["ter"] - t) < 1e-12
        # TER is bounded by WER (a shift can only help) and >= 0
        assert e >= 0


def test_ter_properties_and_edges(spark):
    edges = spark.createDataFrame(
        [(1, "a b c", "a b c"),         # identical
         (2, "d e a b c", "a b c d e"),  # pure rotation: ONE shift
         (3, "", ""),
         (4, "x y", ""),                 # empty ref: null ter
         (5, None, "x"),                 # null -> null struct
         (6, "a X c", "a b c")],         # substitution, no shift
        "i long, c string, r string")
    e = {x["i"]: x["t"] for x in compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t"}}],
        Context(spark=spark))(edges).collect()}
    assert e[1]["edits"] == 0 and e[1]["ter"] == 0.0
    assert e[2]["edits"] == 1 and e[2]["shifts"] == 1
    assert abs(e[2]["ter"] - 0.2) < 1e-12
    assert e[3]["edits"] == 0 and e[3]["ter"] == 0.0
    assert e[4]["edits"] == 2 and e[4]["ter"] is None
    assert e[5] is None
    assert e[6]["edits"] == 1 and e[6]["shifts"] == 0
    # maxShiftDistance blocks far shifts (tercom cap)
    far = " ".join(f"w{i}" for i in range(60))
    fdf = spark.createDataFrame([(1, "z " + far, far + " z")],
                                "i long, c string, r string")
    g = compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t"}}],
        Context(spark=spark))(fdf).collect()[0]["t"]
    assert g["shifts"] == 0 and g["edits"] == 2
    g2 = compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t",
                   "maxShiftDistance": 1000}}],
        Context(spark=spark))(fdf).collect()[0]["t"]
    assert g2["shifts"] == 1 and g2["edits"] == 1
    # multi-reference: best reference wins (NIST)
    mdf = spark.createDataFrame(
        [(1, "a b c", ["x y z w", "a b c"])],
        "i long, c string, rs array<string>")
    gm = compile_pipeline(
        [{"$ter": {"candidate": "$c", "references": "$rs", "as": "t"}}],
        Context(spark=spark))(mdf).collect()[0]["t"]
    assert gm["edits"] == 0 and gm["n_ref"] == 3
    # config guards
    with pytest.raises(ValueError, match="exactly one"):
        compile_pipeline([{"$ter": {"candidate": "$c"}}],
                         Context(spark=spark))
    with pytest.raises(ValueError, match="maxShiftSize"):
        compile_pipeline(
            [{"$ter": {"candidate": "$c", "reference": "$r",
                       "maxShiftSize": 0}}], Context(spark=spark))


def test_ter_long_sequence_differential(spark):
    """r14 bit-parallel Myers + zero-shift-round detector vs the naive
    independent implementation on LONG sequences (>64 words forces the
    multi-word bigint path of the Myers recurrence; rotations and
    single-block moves exercise the detector's canonical forms, and
    mixed edits force the fallback candidate scan)."""
    rng = random.Random(140814)
    vocab = [f"v{i}" for i in range(8)]
    rows = []
    for i in range(14):
        m = rng.randint(66, 150)
        ref = [rng.choice(vocab) for _ in range(m)]
        kind = i % 4
        if kind == 0:  # rotation (the ter_eval oracle shape)
            k = rng.randint(1, m - 1)
            hyp = ref[k:] + ref[:k]
        elif kind == 1:  # single block move
            a = rng.randrange(m - 2)
            l = rng.randint(1, min(9, m - a))
            span = ref[a:a + l]
            rest = ref[:a] + ref[a + l:]
            at = rng.randint(0, len(rest))
            hyp = rest[:at] + span + rest[at:]
        elif kind == 2:  # block move + substitutions (no zero round)
            a = rng.randrange(m - 2)
            l = rng.randint(1, min(9, m - a))
            span = ref[a:a + l]
            rest = ref[:a] + ref[a + l:]
            at = rng.randint(0, len(rest))
            hyp = rest[:at] + span + rest[at:]
            for _ in range(3):
                j = rng.randrange(len(hyp))
                hyp = hyp[:j] + ["zz"] + hyp[j + 1:]
        else:  # random edits
            hyp = list(ref)
            for _ in range(rng.randint(1, 6)):
                j = rng.randrange(len(hyp))
                hyp[j] = rng.choice(vocab)
        rows.append((i, " ".join(hyp), " ".join(ref)))
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x["t"] for x in compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t",
                   "maxShiftDistance": 1000}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        e, t, sh, nh, nr = _ref_ter(c, r, msd=1000)
        g = got[i]
        assert (g["edits"], g["shifts"], g["n_hyp"], g["n_ref"]) == \
            (e, sh, nh, nr), (i, g, (e, sh))
        assert abs(g["ter"] - t) < 1e-12


def test_ter_corpus_equals_independent_aggregation(spark):
    """$terCorpus = total edits / total reference words over the best
    reference per segment — NOT the mean of per-segment TERs."""
    rows = _shifty_pairs(909, 50)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = compile_pipeline(
        [{"$terCorpus": {"candidate": "$c", "reference": "$r"}}],
        Context(spark=spark))(df).collect()[0]
    tot_e = tot_sh = tot_nh = tot_nr = 0
    for _, c, r in rows:
        e, t, sh, nh, nr = _ref_ter(c, r)
        tot_e += e; tot_sh += sh; tot_nh += nh; tot_nr += nr
    assert got["edits"] == tot_e and got["shifts"] == tot_sh
    assert got["n_hyp"] == tot_nh and got["n_ref"] == tot_nr
    assert got["n_segments"] == len(rows)
    assert abs(got["ter"] - tot_e / tot_nr) < 1e-12


# ---- r11 sacrebleu-parity options: $bleu tokenizer 13a, $chrf formula

def _tok13a_py(s):
    import re as _re
    s = s.replace('<skipped>', '').replace('-\n', '').replace('\n', ' ')
    s = (s.replace('&quot;', '"').replace('&amp;', '&')
         .replace('&lt;', '<').replace('&gt;', '>'))
    s = f' {s} '
    s = _re.sub(r'([\x7b-\x7e\x5b-\x60\x20-\x26\x28-\x2b\x3a-\x40\x2f])',
                r' \1 ', s)
    s = _re.sub(r'([^0-9])([\.,])', r'\1 \2 ', s)
    s = _re.sub(r'([\.,])([^0-9])', r' \1 \2', s)
    s = _re.sub(r'([0-9])(-)', r'\1 \2 ', s)
    return ' '.join(s.split())


def test_bleu_13a_tokenizer(spark):
    """tokenizer: "13a" == running the default tokenizer on
    Python-pre-tokenized text (the mteval-v13a rules, pinned with
    explicit hex ranges so Java == RE2 == Python — verified three-way
    this session), over punctuated pairs where 13a genuinely changes
    the token stream."""
    rng = random.Random(1441)
    frags = ["Hello,", "world!", "it's", "3.50", "(really)", "state-of-the-art",
             "3-4", "a..b", "50%", "[ok]", "x;y:", "v1.2", "end."]
    rows = []
    for i in range(60):
        c = " ".join(rng.choice(frags) for _ in range(rng.randint(1, 10)))
        r = " ".join(rng.choice(frags) for _ in range(rng.randint(1, 10)))
        if rng.random() < 0.4:
            r = c + " extra."
        rows.append((i, c, r, _tok13a_py(c), _tok13a_py(r)))
    df = spark.createDataFrame(
        rows, "i long, c string, r string, ct string, rt string")
    out = compile_pipeline(
        [{"$bleu": {"candidate": "$c", "reference": "$r", "maxN": 2,
                    "smooth": "add1", "tokenizer": "13a", "as": "b13"}},
         {"$bleu": {"candidate": "$ct", "reference": "$rt", "maxN": 2,
                    "smooth": "add1", "as": "bpre"}},
         {"$bleu": {"candidate": "$c", "references": ["$r"], "maxN": 2,
                    "smooth": "add1", "tokenizer": "13a", "as": "b13m"}},
         {"$bleu": {"candidate": "$c", "reference": "$r", "maxN": 2,
                    "smooth": "add1", "as": "braw"}}],
        Context(spark=spark))(df).collect()
    changed = 0
    for row in out:
        assert abs(row["b13"] - row["bpre"]) < 1e-12, row["i"]
        assert abs(row["b13m"] - row["bpre"]) < 1e-12, row["i"]
        if abs(row["braw"] - row["b13"]) > 1e-12:
            changed += 1
    assert changed > 10  # 13a genuinely moves scores on this corpus
    with pytest.raises(ValueError, match="tokenizer"):
        compile_pipeline(
            [{"$bleu": {"candidate": "$c", "reference": "$r",
                        "tokenizer": "char"}}], Context(spark=spark))


def _ref_chrf_sacrebleu(c, r, max_n=6, beta=2.0, max_chars=2000):
    """sacrebleu's _compute_f_score over per-order clipped char-gram
    counts (whitespace stripped), in [0, 1] (no x100)."""
    import re as _re
    from collections import Counter
    ws = _re.compile(r"[ \t\n\r\f\x0b]+")  # Java \s is ASCII-only
    sc = ws.sub("", c)[:max_chars]
    sr = ws.sub("", r)[:max_chars]
    b2 = beta * beta
    f_sum, n_eff = 0.0, 0
    for n in range(1, max_n + 1):
        gc = [sc[i:i + n] for i in range(len(sc) - n + 1)]
        gr = [sr[i:i + n] for i in range(len(sr) - n + 1)]
        if not gc or not gr:
            continue
        cc, cr = Counter(gc), Counter(gr)
        m = sum(min(v, cr[g]) for g, v in cc.items())
        p, r_ = m / len(gc), m / len(gr)
        denom = b2 * p + r_
        f_sum += (1 + b2) * p * r_ / denom if denom > 0 else 0.0
        n_eff += 1
    return f_sum / n_eff if n_eff else 0.0


def test_chrf_sacrebleu_formula_differential(spark):
    """formula: "sacrebleu" vs an independent implementation of
    sacrebleu's per-order-F convention; multi-reference takes the max;
    the corpus form pools counts first (sacrebleu's corpus chrF)."""
    rows = _pairs(606, 80)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "reference": "$r", "maxN": 4,
                    "formula": "sacrebleu", "as": "s"}},
         {"$chrf": {"candidate": "$c", "references": ["$r", "$c"],
                    "maxN": 4, "formula": "sacrebleu", "as": "sm"}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        w = _ref_chrf_sacrebleu(c, r, max_n=4)
        assert abs(got[i]["s"] - w) < 1e-12, (i, c, r)
        wm = max(w, _ref_chrf_sacrebleu(c, c, max_n=4))
        assert abs(got[i]["sm"] - wm) < 1e-12, (i, c, r)
    # self-reference scores 1.0 for non-empty candidates
    import re as _re2
    _ws2 = _re2.compile(r"[ \t\n\r\f\x0b]+")
    nonempty = [i for i, c, _ in rows if _ws2.sub("", c)]
    assert all(abs(got[i]["sm"] - 1.0) < 1e-12 for i in nonempty)
    # corpus form: pooled counts then ONE per-order-F average
    from collections import Counter

    import re as _re
    ws = _re.compile(r"[ \t\n\r\f\x0b]+")

    def stats(c, r, n):
        sc = ws.sub("", c)[:2000]
        sr = ws.sub("", r)[:2000]
        gc = [sc[i:i + n] for i in range(len(sc) - n + 1)]
        gr = [sr[i:i + n] for i in range(len(sr) - n + 1)]
        cc, cr = Counter(gc), Counter(gr)
        return (sum(min(v, cr[g]) for g, v in cc.items()),
                len(gc), len(gr))

    b2 = 4.0
    f_sum, n_eff = 0.0, 0
    for n in range(1, 5):
        m = tc = tr = 0
        for _, c, r in rows:
            if c is None or r is None:
                continue
            a, b_, d = stats(c, r, n)
            m += a; tc += b_; tr += d
        if tc > 0 and tr > 0:
            p, r_ = m / tc, m / tr
            denom = b2 * p + r_
            f_sum += 5 * p * r_ / denom if denom > 0 else 0.0
            n_eff += 1
    want_corpus = f_sum / n_eff if n_eff else 0.0
    gc = compile_pipeline(
        [{"$chrfCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 4, "formula": "sacrebleu"}}],
        Context(spark=spark))(df).collect()[0]
    assert abs(gc["chrf"] - want_corpus) < 1e-12
    with pytest.raises(ValueError, match="formula"):
        compile_pipeline(
            [{"$chrf": {"candidate": "$c", "reference": "$r",
                        "formula": "nist"}}], Context(spark=spark))


def test_ter_case_sensitivity_option(spark):
    """caseSensitive: false (sacrebleu TER's default) lowercases both
    sides JVM-side; ours defaults to case-sensitive like $wer."""
    df = spark.createDataFrame(
        [(1, "A B c", "a b C"), (2, "Mixed CASE", "mixed case")],
        "i long, c string, r string")
    out = {r["i"]: r for r in compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t1"}},
         {"$ter": {"candidate": "$c", "reference": "$r",
                   "caseSensitive": False, "as": "t2"}}],
        Context(spark=spark))(df).collect()}
    assert out[1]["t1"]["edits"] == 3 and out[1]["t2"]["edits"] == 0
    assert out[2]["t1"]["edits"] == 2 and out[2]["t2"]["edits"] == 0
    g = compile_pipeline(
        [{"$ter": {"candidate": "$c", "references": ["$r", "zz"],
                   "caseSensitive": False, "as": "t"}}],
        Context(spark=spark))(df).collect()[0]["t"]
    assert g["edits"] == 0
    gc = compile_pipeline(
        [{"$terCorpus": {"candidate": "$c", "reference": "$r",
                         "caseSensitive": False}}],
        Context(spark=spark))(df).collect()[0]
    assert gc["edits"] == 0 and gc["ter"] == 0.0


def test_wer_case_sensitivity_option(spark):
    """r11: caseSensitive: false on $wer/$werCorpus lowercases both
    sides (the usual ASR scoring convention); default unchanged."""
    df = spark.createDataFrame(
        [(1, "Hello World", "hello world"),
         (2, "A B c", ["a b C", "zz"])],
        "i long, c string, r string")
    one = spark.createDataFrame([(1, "Hello World", "hello world")],
                                "i long, c string, r string")
    out = {x["i"]: x for x in compile_pipeline(
        [{"$wer": {"candidate": "$c", "reference": "$r", "as": "w1"}},
         {"$wer": {"candidate": "$c", "reference": "$r",
                   "caseSensitive": False, "as": "w2"}}],
        Context(spark=spark))(one).collect()}
    assert out[1]["w1"]["distance"] == 2 and out[1]["w2"]["distance"] == 0
    mdf = spark.createDataFrame([(1, "A B c", ["a b C", "zz"])],
                                "i long, c string, rs array<string>")
    g = compile_pipeline(
        [{"$wer": {"candidate": "$c", "references": "$rs",
                   "caseSensitive": False, "as": "w"}}],
        Context(spark=spark))(mdf).collect()[0]["w"]
    assert g["distance"] == 0
    gc = compile_pipeline(
        [{"$werCorpus": {"candidate": "$c", "reference": "$r",
                         "caseSensitive": False}}],
        Context(spark=spark))(one).collect()[0]
    assert gc["distance"] == 0 and gc["wer"] == 0.0


def test_bleu_corpus_13a_tokenizer(spark):
    """$bleuCorpus tokenizer: "13a" == the default tokenizer over
    Python-pre-tokenized text (same rules as $bleu's 13a)."""
    rng = random.Random(2552)
    frags = ["Hi,", "there!", "it's", "2.5", "(x)", "a-b", "1-2",
             "end.", "50%", "q;r:"]
    rows = []
    for i in range(50):
        c = " ".join(rng.choice(frags) for _ in range(rng.randint(2, 8)))
        r = (c + " more." if rng.random() < 0.5 else
             " ".join(rng.choice(frags) for _ in range(rng.randint(2, 8))))
        rows.append((i, c, r, _tok13a_py(c), _tok13a_py(r)))
    df = spark.createDataFrame(
        rows, "i long, c string, r string, ct string, rt string")
    g13 = compile_pipeline(
        [{"$bleuCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 2, "smooth": "add1",
                          "tokenizer": "13a"}}],
        Context(spark=spark))(df).collect()[0]
    gpre = compile_pipeline(
        [{"$bleuCorpus": {"candidate": "$ct", "reference": "$rt",
                          "maxN": 2, "smooth": "add1"}}],
        Context(spark=spark))(df).collect()[0]
    graw = compile_pipeline(
        [{"$bleuCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 2, "smooth": "add1"}}],
        Context(spark=spark))(df).collect()[0]
    assert g13 == gpre
    assert g13["c_len"] != graw["c_len"]  # 13a genuinely re-tokenizes
    with pytest.raises(ValueError, match="tokenizer"):
        compile_pipeline(
            [{"$bleuCorpus": {"candidate": "$c", "reference": "$r",
                              "tokenizer": "xx"}}], Context(spark=spark))


def test_ter_published_sacrebleu_vectors(spark):
    """VERDICT r11 #3: literal (hypothesis, reference, expected-TER)
    vectors from PUBLISHED sources — not our own spec — so $ter is
    checked against the numbers users will compare with:

    - the canonical worked example of Snover et al. 2006 §2 ("A Study
      of Translation Edit Rate with Targeted Human Annotation"):
      1 shift of "this week" + 2 substitutions + 1 insertion = 4 edits
      over a 13-word reference -> TER = 4/13;
    - the four synthetic vectors of sacrebleu's TER test suite
      (test/test_ter.py: perfect match 0, disjoint 1.0, swap-ends 0.5,
      single rotation shift 0.25).

    sacrebleu's TER defaults to case-insensitive; inputs here are
    lowercase so the vectors hold under either caseSensitive setting
    (the case option itself is pinned by
    test_ter_case_sensitivity_option)."""
    snover_ref = ("saudi arabia denied this week information published "
                  "in the american new york times")
    snover_hyp = ("this week the saudis denied information published "
                  "in the new york times")
    rows = [
        # (hyp, ref, expected_edits, expected_n_ref)
        (snover_hyp, snover_ref, 4, 13),              # Snover 2006 §2
        ("aaaa bbbb cccc dddd", "aaaa bbbb cccc dddd", 0, 4),
        ("dddd eeee ffff", "aaaa bbbb cccc", 3, 3),   # disjoint -> 1.0
        ("dddd bbbb cccc aaaa", "aaaa bbbb cccc dddd", 2, 4),  # 0.5
        ("bbbb cccc dddd aaaa", "aaaa bbbb cccc dddd", 1, 4),  # 0.25
    ]
    df = spark.createDataFrame(
        [(i, h, r, e, n) for i, (h, r, e, n) in enumerate(rows)],
        "i long, c string, r string, e long, n long")
    got = compile_pipeline(
        [{"$ter": {"candidate": "$c", "reference": "$r", "as": "t"}}],
        Context(spark=spark))(df).collect()
    for row in got:
        assert row["t"]["edits"] == row["e"], row["c"]
        assert row["t"]["n_ref"] == row["n"], row["c"]
        assert abs(row["t"]["ter"] - row["e"] / row["n"]) < 1e-12, row["c"]
    # the Snover example's decomposition: exactly ONE shift found
    snover = [r for r in got if r["i"] == 0][0]
    assert snover["t"]["shifts"] == 1


# ---- r12 chrF++ (wordOrder) ------------------------------------------


_PP_WS = __import__("re").compile(r"[ \t\n\r\f\x0b]+")
_PP_PUNCT = set(__import__("string").punctuation)


def _pp_tokens(s, cap=2000):
    toks = []
    for w in _PP_WS.split(s):
        if not w:
            continue
        if len(w) > 1 and w[-1] in _PP_PUNCT:
            toks += [w[:-1], w[-1]]
        elif len(w) > 1 and w[0] in _PP_PUNCT:
            toks += [w[0], w[1:]]
        else:
            toks.append(w)
    return toks[:cap]


def _pp_stats(c, r, char_n, word_n):
    """(m, tc, tr) triples: char orders 1..char_n then word orders
    1..word_n — the chrF++ statistics pool."""
    from collections import Counter

    sc = _PP_WS.sub("", c)[:2000]
    sr = _PP_WS.sub("", r)[:2000]
    out = []
    for n in range(1, char_n + 1):
        gc = [sc[i:i + n] for i in range(len(sc) - n + 1)]
        gr = [sr[i:i + n] for i in range(len(sr) - n + 1)]
        cc, cr = Counter(gc), Counter(gr)
        out.append((sum(min(v, cr[g]) for g, v in cc.items()),
                    len(gc), len(gr)))
    wc, wr = _pp_tokens(c), _pp_tokens(r)
    for n in range(1, word_n + 1):
        gc = [" ".join(wc[i:i + n]) for i in range(len(wc) - n + 1)]
        gr = [" ".join(wr[i:i + n]) for i in range(len(wr) - n + 1)]
        cc, cr = Counter(gc), Counter(gr)
        out.append((sum(min(v, cr[g]) for g, v in cc.items()),
                    len(gc), len(gr)))
    return out


def _pp_score(triples, formula, beta=2.0):
    b2 = beta * beta
    if formula == "sacrebleu":
        f_sum, n_eff = 0.0, 0
        for m, tc, tr in triples:
            if tc > 0 and tr > 0:
                p, r_ = m / tc, m / tr
                denom = b2 * p + r_
                f_sum += (1 + b2) * p * r_ / denom if denom > 0 else 0.0
                n_eff += 1
        return f_sum / n_eff if n_eff else 0.0
    p_sum = r_sum = 0.0
    n_eff = 0
    for m, tc, tr in triples:
        if tc > 0 or tr > 0:
            n_eff += 1
            p_sum += m / tc if tc > 0 else 0.0
            r_sum += m / tr if tr > 0 else 0.0
    if n_eff == 0:
        return 0.0
    p, r_ = p_sum / n_eff, r_sum / n_eff
    return (1 + b2) * p * r_ / (b2 * p + r_) if p + r_ > 0 else 0.0


def test_chrf_plus_plus_randomized_differential(spark):
    """$chrf wordOrder: 2 (chrF++, Popović 2017) vs an independent
    implementation of the chrF++.py statistics pool, both formulas,
    scalar and multi-reference."""
    rows = _pairs(7212, 100)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "reference": "$r", "maxN": 4,
                    "wordOrder": 2, "as": "pp"}},
         {"$chrf": {"candidate": "$c", "reference": "$r", "maxN": 4,
                    "wordOrder": 2, "formula": "sacrebleu", "as": "sb"}},
         {"$chrf": {"candidate": "$c", "references": ["$r", "$c"],
                    "maxN": 4, "wordOrder": 2, "as": "ppm"}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        st = _pp_stats(c, r, 4, 2)
        for key, formula in (("pp", "popovic"), ("sb", "sacrebleu")):
            want = _pp_score(st, formula)
            assert abs(got[i][key] - want) < 1e-12, (i, c, r, key)
        wm = max(_pp_score(st, "popovic"),
                 _pp_score(_pp_stats(c, c, 4, 2), "popovic"))
        assert abs(got[i]["ppm"] - wm) < 1e-12, (i, c, r)
    # identity scores 1.0 whenever the candidate has any content
    nonempty = [i for i, c, _ in rows if _PP_WS.sub("", c)]
    assert all(abs(got[i]["ppm"] - 1.0) < 1e-12 for i in nonempty)


def test_chrf_plus_plus_edge_tokenization(spark):
    """The chrF++.py edge-punctuation quirks, pinned literally:
    "(word)" keeps the opening paren attached; interior punctuation
    never splits; one-char punctuation words pass through."""
    rows = [
        (0, "hello, world!", "hello , world !"),
        (1, "(word)", "( word )"),
        (2, "a.b.c", "a . b . c"),
        (3, "! ! !", "!!!"),
    ]
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x["s"] for x in compile_pipeline(
        [{"$chrf": {"candidate": "$c", "reference": "$r", "maxN": 2,
                    "wordOrder": 2, "as": "s"}}],
        Context(spark=spark))(df).collect()}
    for i, c, r in rows:
        want = _pp_score(_pp_stats(c, r, 2, 2), "popovic")
        assert abs(got[i] - want) < 1e-12, (i, c, r, got[i], want)
    # tokenization itself, via a same-tokens pair scoring exactly 1.0
    # on the word orders: "hello," tokenizes to [hello][,] so a
    # pre-separated reference has IDENTICAL word grams but different
    # char grams -> word-order P=R=1 contributions
    st = _pp_stats("hello, world!", "hello , world !", 0, 2)
    assert all(m == tc == tr for m, tc, tr in st)
    assert _pp_tokens("(word)") == ["(word", ")"]
    assert _pp_tokens("a.b.c") == ["a.b.c"]


def test_chrf_word_order_validation(spark):
    with pytest.raises(ValueError, match="wordOrder"):
        compile_pipeline(
            [{"$chrf": {"candidate": "$c", "reference": "$r",
                        "wordOrder": 9}}], Context(spark=spark))
    with pytest.raises(ValueError, match="maxWords"):
        compile_pipeline(
            [{"$chrf": {"candidate": "$c", "reference": "$r",
                        "wordOrder": 2, "maxWords": 0}}],
            Context(spark=spark))


def test_chrf_plus_plus_corpus_and_bootstrap(spark):
    """$chrfCorpus wordOrder: 2 pools word-gram statistics corpus-wide
    next to the char orders (sacrebleu corpus chrF2++ shape), and the
    corpusChrf bootstrap statistic threads wordOrder through the
    replicate sums (full-corpus mean == $chrfCorpus score)."""
    rows = _pairs(8123, 60)
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = compile_pipeline(
        [{"$chrfCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 3, "wordOrder": 2}}],
        Context(spark=spark))(df).collect()[0]
    # independent pooled reference
    pooled = None
    for _, c, r in rows:
        st = _pp_stats(c, r, 3, 2)
        pooled = st if pooled is None else [
            (a + m, b + tc, d + tr)
            for (a, b, d), (m, tc, tr) in zip(pooled, st)]
    want = _pp_score(pooled, "popovic")
    assert abs(got["chrf"] - want) < 1e-12
    assert "wp1" in got.asDict() and "wr2" in got.asDict()
    # default schema unchanged without wordOrder
    got0 = compile_pipeline(
        [{"$chrfCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 3}}], Context(spark=spark))(df).collect()[0]
    assert "wp1" not in got0.asDict()
    # bootstrap statistic: full-corpus mean must equal the corpus score
    ci = compile_pipeline(
        [{"$bootstrapCI": {"id": "$i", "statistic": "corpusChrf",
                           "candidate": "$c", "reference": "$r",
                           "maxN": 3, "wordOrder": 2,
                           "samples": 10, "seed": 3}}],
        Context(spark=spark))(df).collect()[0]
    assert abs(ci["mean"] - want) < 1e-12
    assert ci["ci_low"] <= want <= ci["ci_high"]


@pytest.mark.parametrize("statistic,stage,ref_key,opts", [
    ("corpusBleu", "$bleuCorpus", "reference", {"maxN": 3, "smooth": "add1"}),
    ("corpusBleu", "$bleuCorpus", "references", {"tokenizer": "13a"}),
    ("corpusChrf", "$chrfCorpus", "reference",
     {"maxN": 3, "wordOrder": 2, "formula": "sacrebleu"}),
    ("corpusWer", "$werCorpus", "reference", {"caseSensitive": False}),
    ("corpusWer", "$werCorpus", "references", {"maxWords": 6}),
    ("corpusTer", "$terCorpus", "reference", {"maxShiftSize": 3}),
    ("corpusTer", "$terCorpus", "references", {}),
])
def test_corpus_score_has_one_definition(spark, statistic, stage, ref_key,
                                         opts):
    """The full-corpus ``mean`` of ``$bootstrapCI {statistic}`` IS the
    matching ``$xCorpus`` score — equal exactly, not within a tolerance
    — on the same rows and options, a null-candidate row included
    (both exclude it)."""
    rng = random.Random(7411)
    rows = []
    for i, c, r in _pairs(4401, 40):
        refs = [r, _rand_text(rng), None]
        rows.append((i, None if i == 3 else c, r, refs))
    df = spark.createDataFrame(
        rows, "i long, c string, r string, refs array<string>")
    ref = {ref_key: "$r" if ref_key == "reference" else "$refs"}
    ctx = Context(spark=spark)
    corpus = compile_pipeline(
        [{stage: {"candidate": "$c", **ref, **opts}}], ctx)(df).collect()[0]
    ci = compile_pipeline(
        [{"$bootstrapCI": {"id": "$i", "statistic": statistic,
                           "candidate": "$c", **ref, **opts,
                           "samples": 5}}], ctx)(df).collect()[0]
    assert corpus["n_segments"] == ci["n"] == len(rows) - 1
    assert ci["mean"] == corpus[stage[1:-len("Corpus")]]


def test_bleu_intl_tokenizer(spark):
    """tokenizer: "intl" (mteval-v14 international, sacrebleu's second
    tokenizer) — equivalence against a Python implementation of the
    three published rules (pad punctuation unless digit-adjacent, pad
    all symbols), including the category split ASCII hides: $ + = are
    Unicode SYMBOLS (always padded), , . are PUNCTUATION (kept inside
    numbers)."""
    import re

    P = r"[!\"#%&'()*,\-./:;?@\[\\\]_{}]"
    S = r"[$+<=>^`|~€]"

    def ref_tok(s):
        s = re.sub(rf"([^0-9])({P})", r"\1 \2 ", s)
        s = re.sub(rf"({P})([^0-9])", r" \1 \2", s)
        s = re.sub(rf"({S})", r" \1 ", s)
        return " ".join(s.split())

    texts = [
        "hello, world!",
        "it costs $5.50 today",
        "5,000 items (about 3.14%) arrived",
        "a+b=c and x<y",
        "price: €9.99!",
        "mr. smith's 2nd try...",
        "",
    ]
    rows = [(i, t, texts[(i + 1) % len(texts)])
            for i, t in enumerate(texts)]
    # 13a pads '-' only after a digit; intl pads every non-digit-adjacent
    # punctuation — so this pair scores differently under the two
    rows.append((len(rows), "the well-known fact",
                 "the well - known fact"))
    df = spark.createDataFrame(rows, "i long, c string, r string")
    got = {x["i"]: x["b"] for x in compile_pipeline(
        [{"$bleu": {"candidate": "$c", "reference": "$r", "maxN": 2,
                    "tokenizer": "intl", "smooth": "add1", "as": "b"}}],
        Context(spark=spark))(df).collect()}
    pre = [(i, ref_tok(c), ref_tok(r)) for i, c, r in rows]
    df2 = spark.createDataFrame(pre, "i long, c string, r string")
    want = {x["i"]: x["b"] for x in compile_pipeline(
        [{"$bleu": {"candidate": "$c", "reference": "$r", "maxN": 2,
                    "smooth": "add1", "as": "b"}}],
        Context(spark=spark))(df2).collect()}
    for i, c, r in rows:
        assert got[i] == want[i], (i, c, ref_tok(c))
    # intl actually differs from 13a on digit-adjacent punctuation
    got13 = {x["i"]: x["b"] for x in compile_pipeline(
        [{"$bleu": {"candidate": "$c", "reference": "$r", "maxN": 2,
                    "tokenizer": "13a", "smooth": "add1", "as": "b"}}],
        Context(spark=spark))(df).collect()}
    assert any(got[i] != got13[i] for i, _, _ in rows)
    # corpus + bootstrap statistic accept it too
    one = compile_pipeline(
        [{"$bleuCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 2, "tokenizer": "intl"}}],
        Context(spark=spark))(df).collect()[0]
    one2 = compile_pipeline(
        [{"$bleuCorpus": {"candidate": "$c", "reference": "$r",
                          "maxN": 2}}], Context(spark=spark))(df2).collect()[0]
    assert one["bleu"] == one2["bleu"]
    ci = compile_pipeline(
        [{"$bootstrapCI": {"id": "$i", "statistic": "corpusBleu",
                           "candidate": "$c", "reference": "$r",
                           "maxN": 2, "tokenizer": "intl",
                           "samples": 8, "seed": 1}}],
        Context(spark=spark))(df).collect()[0]
    assert ci["mean"] == one["bleu"]
    with pytest.raises(ValueError, match="tokenizer"):
        compile_pipeline(
            [{"$bleu": {"candidate": "$c", "reference": "$r",
                        "tokenizer": "v14"}}], Context(spark=spark))


def test_rouge_l_bitparallel_lcs_differential(spark):
    """r13 optimization: $rougeL's LCS length runs the bit-parallel
    Allison-Dix/Hyyro recurrence (V' = (V + U) | (V - U), shorter side
    as the bit vector) instead of the two-row DP.  Pin the engine
    against an independent classic DP over randomized word sequences,
    including vectors past 64 bits (Python bigints) and degenerate
    one-letter alphabets (worst-case runs)."""
    import random

    def dp_lcs(a, b):
        if len(a) < len(b):
            a, b = b, a
        if not b:
            return 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0]
            for j, y in enumerate(b, 1):
                cur.append(prev[j - 1] + 1 if x == y
                           else max(prev[j], cur[j - 1]))
            prev = cur
        return prev[-1]

    rng = random.Random(13)
    rows = []
    for i in range(120):
        vocab = "abcdefgh"[:rng.randint(1, 8)]
        c = " ".join(rng.choice(vocab)
                     for _ in range(rng.randint(0, 90)))
        r = " ".join(rng.choice(vocab)
                     for _ in range(rng.randint(0, 90)))
        rows.append((i, None if i % 37 == 0 else c, r))
    df = spark.createDataFrame(rows, "i long, c string, r string")
    out = compile_pipeline(
        [{"$rougeL": {"candidate": "$c", "reference": "$r",
                      "as": "rl"}}],
        Context(spark=spark))(df)
    got = {x["i"]: x["rl"] for x in out.collect()}
    for i, c, r in rows:
        exp = None if c is None or r is None else dp_lcs(
            [w for w in c.split(" ") if w],
            [w for w in r.split(" ") if w])
        if exp is None:
            assert got[i] is None
        else:
            assert got[i]["lcs"] == exp, (c, r)
