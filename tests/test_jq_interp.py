"""The tier-2 pure-Python jq interpreter (operators/jq_interp.py):
stream semantics, polymorphic arithmetic, the long-tail builtins, and a
cross-check against the NATIVE compiler on shared-subset scripts (both
tiers must agree)."""

import random

import pytest

from pincette_mongo_streams_spark.operators.jq_interp import (
    JqInterpError,
    jq_all,
    jq_first,
)

DOC = {"a": 2, "b": 3, "name": "Ada Lovelace", "xs": [4.0, 1.0, 3.0],
       "tags": ["x", "y"], "items": [{"k": "p", "v": 1}, {"k": "q", "v": 2}]}


@pytest.mark.parametrize("script,want", [
    (".a + .b", 5),
    ("[.xs[] | select(. > 2)]", [4.0, 3.0]),
    (".xs[0], .xs[-1]", None),  # handled in stream test below
    ('"\\(.a) and \\(.b)"', "2 and 3"),
    ("to_entries | length", 6),
    ("reduce .xs[] as $x (0; . + $x)", 8.0),
    ("[foreach .xs[] as $x (0; . + $x)]", [4.0, 5.0, 8.0]),
    ("{(.name | ascii_downcase): .a}", {"ada lovelace": 2}),
    (".items | group_by(.k) | map(.[0].k)", ["p", "q"]),
    (".items | sort_by(-.v) | map(.v)", [2, 1]),
    (".items | max_by(.v) | .v", 2),
    ("def tot: map(.v) | add; .items | tot", 3),
    ("def scale($k): map(. * $k); .xs | scale(10)", [40.0, 10.0, 30.0]),
    ("try error(\"boom\") catch .", "boom"),
    (".nope.deeper?", None),
    ("del(.a, .b) | keys", ["items", "name", "tags", "xs"]),
    (".xs | add / length", 8.0 / 3),
    ("[range(2; 9; 3)]", [2, 5, 8]),
    ('{a, extra: 1}', {"a": 2, "extra": 1}),
    ('[paths] | length', 17),
    ("[.items[].v]", [1, 2]),
    (".items[1].k", "q"),
    (".xs[1:]", [1.0, 3.0]),
    ('. as $d | .xs | map(. + $d.a)', [6.0, 3.0, 5.0]),
    ('if .a > 10 then "big" elif .a > 1 then "mid" else "small" end',
     "mid"),
])
def test_interpreter_cases(script, want):
    if want is None and "," in script:
        assert jq_all(script)(DOC) == [4.0, 3.0]
    else:
        assert jq_first(script)(DOC) == want


def test_stream_semantics():
    assert jq_all(".xs[]")(DOC) == [4.0, 1.0, 3.0]
    assert jq_all(".a, .b, empty, .a")(DOC) == [2, 3, 2]
    assert jq_all("(.a, .b) + 10")(DOC) == [12, 13]


def test_jq_total_order():
    # null < false < true < numbers < strings < arrays < objects
    mixed = [[1], "s", None, True, 0, False, {"a": 1}]
    got = jq_first("sort")(mixed)
    assert got == [None, False, True, 0, "s", [1], {"a": 1}]


def test_polymorphic_arithmetic():
    assert jq_first(". + [3]")([1, 2]) == [1, 2, 3]
    assert jq_first('. + {"b": 2}')({"a": 1}) == {"a": 1, "b": 2}
    assert jq_first(". - [2]")([1, 2, 3]) == [1, 3]
    assert jq_first('. * {"b": {"c": 1}}')({"b": {"d": 2}}) == \
        {"b": {"d": 2, "c": 1}}
    assert jq_first('. / ","')("a,b") == ["a", "b"]
    assert jq_first(". % 3")(7) == 1


def test_unsupported_is_loud():
    # label/break and module imports are supported since r5 (see
    # test_label_break / test_module_imports); an import without a
    # resolver still raises
    with pytest.raises(JqInterpError):
        jq_first('import "m" as m; .')(DOC)


def test_input_inputs_one_doc_semantics():
    """One-doc-in stream semantics: `.` already consumed the only
    input, so `inputs` is exhausted and `input` errors with jq's "No
    more inputs" — catchable, so the [., inputs] idiom works."""
    assert jq_all("[., inputs]")(DOC) == [[DOC]]
    assert jq_all("reduce inputs as $x (0; . + 1)")(DOC) == [0]
    assert jq_all('try input catch "exhausted"')(DOC) == ["exhausted"]
    with pytest.raises(Exception, match="No more inputs"):
        jq_first("input")(DOC)


def test_recursive_descent():
    """`..` streams every sub-value pre-order (jq recurse; jackson-jq
    runs it — Jq.java:19-33); composes with type filters and select."""
    assert jq_all("..")({"a": [1, {"b": 2}]}) == [
        {"a": [1, {"b": 2}]}, [1, {"b": 2}], 1, {"b": 2}, 2]
    assert jq_all(".. | numbers")(DOC) == [2, 3, 4.0, 1.0, 3.0, 1, 2]
    assert jq_all("[.. | strings] | length")(DOC) == [5]
    assert jq_all('.. | select(type == "object" and has("k")) | .v'
                  )(DOC) == [1, 2]
    # recurse(f) and recurse(f; cond)
    assert jq_all("recurse")(DOC) == jq_all("..")(DOC)
    assert jq_all("1 | recurse(. * 2; . < 20)")(None) == [1, 2, 4, 8, 16]
    # the SEED is emitted unconditionally — cond filters only f's
    # outputs (jq: def recurse(f; cond): def r: ., (f|select(cond)|r); r)
    assert jq_all("5 | recurse(. + 1; . < 3)")(None) == [5]


def test_limit():
    assert jq_all("limit(2; .xs[])")(DOC) == [4.0, 1.0]
    assert jq_all("limit(0; .xs[])")(DOC) == []
    assert jq_all("limit(99; .xs[])")(DOC) == [4.0, 1.0, 3.0]
    # jq: a NEGATIVE count passes every output through (only 0 is empty)
    assert jq_all("[limit(-1; (1,2,3))]")(None) == [[1, 2, 3]]
    # limit short-circuits: the infinite-ish source never runs past n
    assert jq_all("[limit(3; range(1000000))]")(None) == [[0, 1, 2]]


def test_regex_captures():
    doc = {"s": "id=42;name=ada"}
    assert jq_first('.s | capture("id=(?<id>[0-9]+)") | .id')(doc) == "42"
    assert jq_first('.s | capture("(?<k>[a-z]+)=(?<v>[0-9]+)")')(doc) == \
        {"k": "id", "v": "42"}
    m = jq_first('.s | match("name=(?<n>[a-z]+)")')(doc)
    assert m["string"] == "name=ada" and m["offset"] == 6
    assert m["captures"][0] == {"offset": 11, "length": 3,
                                "string": "ada", "name": "n"}
    # global + case-insensitive flags
    assert jq_all('.s | match("[A-Z]+=[0-9A-Z]+"; "ig") | .string')(doc) \
        == ["id=42", "name=ada"]
    assert jq_all('.s | scan("[a-z]+")')(doc) == ["id", "name", "ada"]
    assert jq_first('.s | [splits("[;=]")]')(doc) == \
        ["id", "42", "name", "ada"]
    assert jq_first('.s | split(";"; "")')(doc) == ["id=42", "name=ada"]
    # no match -> empty stream, catchable type errors
    assert jq_all('.s | capture("zzz(?<x>.)")')(doc) == []
    assert jq_first('try (42 | match("x")) catch "t"')(None) == "t"
    # an INVALID pattern (possibly data-built) is jq-catchable, never a
    # raw re.error killing the task
    assert jq_first('try test("[") catch "bad-re"')("x") == "bad-re"
    # splits never interleaves capture-group text (unlike Python re.split)
    assert jq_first('[splits("(?<d>[0-9])")]')("a1b2c") == ["a", "b", "c"]


def test_sub_gsub():
    assert jq_first('sub("a"; "X")')("banana") == "bXnana"
    assert jq_first('gsub("a"; "X")')("banana") == "bXnXnX"
    assert jq_first('sub("a"; "X"; "g")')("banana") == "bXnXnX"
    # named captures feed the replacement both as `.name` and `$name`
    assert jq_first('gsub("(?<c>[aeiou])"; "<\\(.c)>")')("lo") == "l<o>"
    assert jq_first('gsub("(?<c>[ab])"; ($c | ascii_upcase))')("abc") == \
        "ABc"
    assert jq_first('gsub("x"; "y")')("none here") == "none here"


def test_format_strings():
    assert jq_first("@base64")("hi") == "aGk="
    assert jq_first('@base64 "v=\\(.a)"')(DOC) == "v=" + "Mg=="
    assert jq_first("@base64d")("aGk=") == "hi"
    assert jq_first("@uri")("a b&c") == "a%20b%26c"
    assert jq_first("@csv")([1, "a\"b", None, True]) == '1,"a""b",,true'
    assert jq_first("@tsv")(["a\tb", 2]) == "a\\tb\t2"
    assert jq_first("@html")("<a>&'") == "&lt;a&gt;&amp;&#39;"
    assert jq_first("@sh")(["a b", 3]) == "'a b' 3"
    assert jq_first("@json")({"a": 1}) == '{"a": 1}'
    assert jq_first("@text")(42) == "42"
    with pytest.raises(JqInterpError):
        jq_first("@nosuch")(1)
    # decode failures are jq-catchable and invalid base64 errors loudly
    # (validate=True) instead of silently dropping characters
    assert jq_first('try @base64d catch "bad"')("/w==") == "bad"  # not UTF-8
    assert jq_first('try ("!!!" | @base64d) catch "bad"')(None) == "bad"
    assert jq_first('try @csv catch "bad"')("not-an-array") == "bad"


def test_runaway_recursion_is_catchable():
    """`def f: f; f` must surface as a catchable jq error (try/catch),
    never a raw RecursionError that kills the Spark task."""
    assert jq_first('try (def f: f; f) catch "deep"')(None) == "deep"
    from pincette_mongo_streams_spark.operators.jq_interp import (
        _JqRuntimeError,
    )

    with pytest.raises(_JqRuntimeError, match="recursion"):
        jq_first("def f: f + 1; f")(0)


def test_recursive_defs():
    """User defs may recurse: the definition stays in scope inside its
    own body (jackson-jq runs arbitrary defs)."""
    assert jq_first(
        "def fact: if . <= 1 then 1 else . * (. - 1 | fact) end; 5 | fact"
    )(None) == 120
    assert jq_first(
        "def fib($n): if $n < 2 then $n else fib($n - 1) + fib($n - 2) "
        "end; fib(10)"
    )(None) == 55
    # mutual shape via nested def
    assert jq_all(
        "def walk_up($n): $n, (if $n < 3 then walk_up($n + 1) else empty "
        "end); walk_up(0)"
    )(None) == [0, 1, 2, 3]


def test_runtime_vs_parse_errors():
    from pincette_mongo_streams_spark.operators.jq_interp import (
        _JqRuntimeError,
    )

    with pytest.raises(_JqRuntimeError):
        jq_first(".a + .name")(DOC)  # number + string
    assert jq_first("try (.a + .name) catch \"t\"")(DOC) == "t"


def test_cross_check_against_native_compiler(spark):
    """Shared-subset scripts must agree between tier 1 (native Columns)
    and tier 2 (interpreter) — the two implementations cross-validate."""
    from pyspark.sql import Row

    from pincette_mongo_streams_spark import Context, compile_pipeline

    rng = random.Random(77)
    rows = [Row(_id=str(i), a=float(rng.randint(-5, 5)),
                b=float(rng.randint(1, 5)),
                xs=[float(rng.randint(-3, 9)) for _ in range(rng.randint(0, 5))])
            for i in range(8)]
    schema = "_id string, a double, b double, xs array<double>"
    scripts = [
        ". + {s: (.a + .b), p: (.a * 2)}",
        ". + {t: reduce .xs[] as $x (0; . + $x)}",
        ". + {m: (.xs | map(. + 1))}",
        ". + {c: if .a > .b then 1 else 0 end}",
        ". + {r: [foreach .xs[] as $x (0; . + $x)]}",
    ]
    df = spark.createDataFrame(rows, schema)
    for script in scripts:
        native = compile_pipeline([{"$jq": script}], Context(spark=spark))(df)
        got = {r["_id"]: r.asDict(recursive=True) for r in native.collect()}
        for row in rows:
            doc = {"_id": row._id, "a": row.a, "b": row.b, "xs": row.xs}
            want = jq_first(script)(doc)
            have = got[row._id]
            for k, v in want.items():
                assert have[k] == pytest.approx(v) if isinstance(v, float) \
                    else have[k] == v, (script, k, have[k], v)


def test_builtin_errors_are_catchable():
    """r3 review fix: type/value errors inside builtins become catchable
    jq errors instead of raw Python exceptions killing the task."""
    assert jq_first('try (.x | tonumber) catch "bad"')({"x": "abc"}) == "bad"
    assert jq_first('try (.xs | first) catch "empty"')({"xs": []}) == "empty"
    assert jq_first('(.x | tonumber)? // -1')({"x": "abc"}) == -1
    assert jq_first('try (.n | ascii_downcase) catch "t"')({"n": 3}) == "t"


def test_label_break():
    """`label $out | ... break $out` unwinds to the matching label; NOT
    catchable by try/catch (jq control flow, not a runtime error)."""
    assert jq_all(
        "[label $out | .[] | if . > 3 then break $out else . * 10 end]"
    )([1, 2, 3, 9, 4]) == [[10, 20, 30]]
    # break passes THROUGH try/catch
    assert jq_all(
        "[label $out | .[] | try (if . > 1 then break $out else . end) "
        'catch "caught"]'
    )([1, 5, 2]) == [[1]]
    # nested labels: inner break unwinds only the inner label
    assert jq_all(
        "[label $a | .[] | label $b | (if . == 2 then break $b else . end)]"
    )([1, 2, 3]) == [[1, 3]]


def test_filter_params():
    """Bare def params are FILTER params (jq): re-evaluated per use site
    against the input there, in the caller's environment; `$x` params
    bind one value and also expose the filter form `x`."""
    assert jq_all("def mymap(f): [.[] | f]; mymap(. * 2)")([1, 2, 3]) \
        == [[2, 4, 6]]
    assert jq_all("def scale($k): map(. * k); scale(3)")([1, 2]) == [[3, 6]]
    # nested application must not self-capture the param name
    assert jq_all(
        "def double(x): x * 2; def quad(x): double(double(x)); quad(.n)"
    )({"n": 3}) == [12]
    # a multi-output filter arg streams per use
    assert jq_all("def twice(f): [f]; twice(.[ ])")([1, 2]) == [[1, 2]]


def test_module_imports():
    """`import "m" as alias;` / `include "m";` served by a resolver —
    the jackson-jq module-loader seam (Jq.java:27-31).  Imported
    functions are namespaced `alias::fn`; includes land under their own
    names; nested imports and module-sibling calls resolve; cycles,
    unresolved modules, and module bodies raise JqInterpError."""
    import pytest as _pytest

    mods = {
        "util": "def double(x): x * 2;\ndef quad(x): double(double(x));",
        "top": 'import "util" as u;\ndef big(x): u::quad(x) + 1;',
    }
    assert jq_all(
        'import "util" as u; import "top" as t; '
        "{a: u::double(.n), b: u::quad(.n), c: t::big(.n)}",
        resolver=mods,
    )({"n": 3}) == [{"a": 6, "b": 12, "c": 13}]
    assert jq_all('include "util"; quad(.n)', resolver=mods)({"n": 2}) == [8]
    with _pytest.raises(JqInterpError, match="no jq_resolver"):
        jq_all('import "x" as x; .')
    with _pytest.raises(JqInterpError, match="unresolved"):
        jq_all('import "x" as x; .', resolver={"y": "def f: 1;"})
    with _pytest.raises(JqInterpError, match="circular"):
        jq_all('import "a" as a; .', resolver={
            "a": 'import "b" as b; def f: 1;',
            "b": 'import "a" as a; def g: 2;'})
    with _pytest.raises(JqInterpError, match="declarations-only"):
        jq_all('import "m" as m; .', resolver={"m": ". + 1"})


def test_jq_stage_module_resolver(spark):
    """$jq end-to-end: Context.jq_resolver serves module imports in the
    tier-2 interpreter path."""
    from pyspark.sql import Row

    from pincette_mongo_streams_spark import Context, compile_pipeline

    mods = {"m": "def rate: 0.1;\ndef taxed(p): p * (1 + rate);"}
    df = spark.createDataFrame([Row(_id="0", price=100.0)])
    ctx = Context(spark=spark, jq_resolver=mods)
    out = compile_pipeline(
        [{"$jq": 'import "m" as m; {_id: ._id, gross: m::taxed(.price)}'}],
        ctx)(df)
    rows = [r.asDict() for r in out.collect()]
    assert rows == [{"_id": "0", "gross": 110.00000000000001}]


def test_jq_stage_import_after_comment(spark):
    """A '#' comment line BEFORE the import: the stage still resolves
    the module and runs the script on the interpreter."""
    from pyspark.sql import Row

    from pincette_mongo_streams_spark import Context, compile_pipeline

    mods = {"m": "def rate: 0.1;\ndef taxed(p): p * (1 + rate);"}
    df = spark.createDataFrame([Row(_id="0", price=100.0)])
    ctx = Context(spark=spark, jq_resolver=mods)
    out = compile_pipeline(
        [{"$jq": '# tax helper\nimport "m" as m; '
                 "{_id: ._id, gross: m::taxed(.price)}"}],
        ctx)(df)
    rows = [r.asDict() for r in out.collect()]
    assert rows == [{"_id": "0", "gross": 110.00000000000001}]


def test_loc():
    """$__loc__ yields {file: "<stdin>", line} with the token's real
    source line (jackson-jq parity for the last debug builtin)."""
    assert jq_all("$__loc__")(None) == [{"file": "<stdin>", "line": 1}]
    assert jq_all(".a\n| {loc: $__loc__,\n l2: $__loc__}")({"a": 1}) == [
        {"loc": {"file": "<stdin>", "line": 2},
         "l2": {"file": "<stdin>", "line": 3}}]
    with pytest.raises(JqInterpError, match="\\$__loc__"):
        jq_all("__loc__")


def test_module_shadowing_and_unmatched_break():
    """Module-def qualification must respect local shadowing (a filter
    param or nested local def wins over a same-named sibling), and an
    unmatched `break` surfaces as a catchable jq error, not a raw
    internal exception."""
    assert jq_all('import "m" as m; m::g(10)',
                  resolver={"m": "def f: 1;\ndef g(f): f + f;"})(None) \
        == [20]
    assert jq_all('import "m" as m; m::h',
                  resolver={"m": "def f: 1;\ndef h: def f: 5; f + f;"}
                  )(None) == [10]
    assert jq_all('import "m" as m; m::k',
                  resolver={"m": "def f: 3;\ndef k: f * 2;"})(None) == [6]
    from pincette_mongo_streams_spark.operators.jq_interp import (
        _JqRuntimeError,
    )

    with pytest.raises(_JqRuntimeError, match="no matching label"):
        jq_all("break $out")(None)
