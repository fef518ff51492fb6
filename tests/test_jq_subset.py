"""The jq-subset compiler (operators/jq.py): pipeline-shaped jq filters
compile to native DataFrame programs — steps (merge/rebuild/del/select),
paths, operators, // alternative, if/then/else/end, value-piped
builtins."""

import pytest
from pyspark.sql import Row

from pincette_mongo_streams_spark import Context, compile_pipeline


def _run(spark, script, rows=None, schema=None):
    rows = rows or [Row(_id="0", name="Ada Lovelace", age=36,
                        score=91.5, tags=["a", "b"], note=None)]
    schema = schema or "_id string, name string, age long, score double, " \
                       "tags array<string>, note string"
    df = spark.createDataFrame(rows, schema)
    out = compile_pipeline([{"$jq": script}], Context(spark=spark))(df)
    return [r.asDict(recursive=True) for r in out.collect()]


def test_merge_with_expressions(spark):
    docs = _run(spark, '. + {up: (.name | ascii_upcase), next: .age + 1}')
    d = docs[0]
    assert d["up"] == "ADA LOVELACE" and d["next"] == 37
    assert d["name"] == "Ada Lovelace"


def test_rebuild_object_and_shorthand(spark):
    docs = _run(spark, '{name, half: .score / 2}')
    assert docs == [{"name": "Ada Lovelace", "half": 45.75}]


def test_pipe_of_steps_del_select(spark):
    rows = [Row(_id=str(i), kind=("err" if i % 2 else "ok"), v=i)
            for i in range(6)]
    docs = _run(spark, 'select(.kind == "ok") | . + {vv: .v * 10} | del(.kind)',
                rows=rows, schema="_id string, kind string, v long")
    assert [d["vv"] for d in docs] == [0, 20, 40]
    assert "kind" not in docs[0]


def test_alternative_operator(spark):
    docs = _run(spark, '. + {n: (.note // "none"), a: (.age // 0)}')
    assert docs[0]["n"] == "none" and docs[0]["a"] == 36


def test_if_then_else_end(spark):
    docs = _run(spark, '. + {grown: if .age >= 18 then "yes" else "no" end}')
    assert docs[0]["grown"] == "yes"


def test_value_piped_builtins(spark):
    docs = _run(spark, """. + {
        n: (.name | length),
        words: (.name | split(" ") | length),
        lo: (.name | ascii_downcase),
        t: (.name | test("^Ada")),
        joined: (.tags | join("-")),
        trimmed: (.name | ltrimstr("Ada ")),
        r: (.score | round),
        s: (.age | tostring),
        num: ("12.5" | tonumber)
    }""")
    d = docs[0]
    assert d["n"] == 12 and d["words"] == 2
    assert d["lo"] == "ada lovelace" and d["t"] is True
    assert d["joined"] == "a-b" and d["trimmed"] == "Lovelace"
    assert d["r"] == 92 and d["s"] == "36" and d["num"] == 12.5


def test_split_is_literal_not_regex(spark):
    rows = [Row(_id="0", s="a.b.c")]
    docs = _run(spark, '. + {parts: (.s | split("."))}',
                rows=rows, schema="_id string, s string")
    assert docs[0]["parts"] == ["a", "b", "c"]


def test_rekey_on_new_id(spark):
    from pincette_mongo_streams_spark.operators.stateless import KEY_COL

    rows = [Row(__key="0", _id="0", test=0)]
    docs = _run(spark, '. + {_id: "9"}', rows=rows,
                schema="__key string, _id string, test long")
    assert docs[0]["_id"] == "9" and docs[0][KEY_COL] == "9"


def test_unsupported_falls_to_tier2_boundary(spark):
    # `@base32` is beyond both the native subset and the tier-2
    # interpreter; the boundary error stays loud (r5: `input`/`inputs`
    # now run tier-2 with one-doc-in stream semantics)
    with pytest.raises(NotImplementedError, match="jq"):
        _run(spark, '@base32 "\\(.name)"')


def test_beyond_subset_runs_on_tier2_interpreter(spark):
    """r3: scripts the native compiler rejects degrade to the pure-Python
    interpreter (operators/jq_interp.py) instead of ImportError."""
    rows = [Row(_id="0", name="Ada", tags=["a", "b"]),
            Row(_id="1", name="Bob", tags=["c"])]
    schema = "_id string, name string, tags array<string>"
    docs = _run(spark, '{id: ._id, n: (.tags | length), '
                       'entries: (. | to_entries | map(.key) | sort)}',
                rows=rows, schema=schema)
    docs.sort(key=lambda d: d["id"])
    assert docs[0] == {"id": "0", "n": 2,
                       "entries": ["_id", "name", "tags"]}
    assert docs[1]["n"] == 1


def test_rebuild_preserves_message_key(spark):
    """A `{..}` rebuild replaces the document, not the message key: the
    internal __key column survives; it is only re-derived when `_id`
    changed (ADVICE r2 medium)."""
    from pincette_mongo_streams_spark.operators.stateless import KEY_COL

    rows = [Row(__key="k7", _id="0", name="x", v=1)]
    schema = "__key string, _id string, name string, v long"
    docs = _run(spark, '{name, vv: .v + 1}', rows=rows, schema=schema)
    assert docs == [{KEY_COL: "k7", "name": "x", "vv": 2}]
    # _id in the rebuild -> rekey from the new _id
    docs = _run(spark, '{_id: "9", name}', rows=rows, schema=schema)
    assert docs[0][KEY_COL] == "9" and docs[0]["_id"] == "9"


def test_whole_document_value_excludes_internal_columns(spark):
    """`.` as a VALUE must not embed engine-internal columns (ADVICE r2)."""
    rows = [Row(__key="k7", _id="0", v=1)]
    schema = "__key string, _id string, v long"
    docs = _run(spark, '. + {copy: .}', rows=rows, schema=schema)
    assert docs[0]["copy"] == {"_id": "0", "v": 1}


def test_reduce_foreach_and_variables(spark):
    """r3: reduce / [foreach] / as-bindings compile to aggregate/transform
    HOFs (Jq.java:19-33 runs arbitrary jq; this closes the common fold
    forms natively)."""
    rows = [Row(_id="0", nums=[1, 2, 3, 4], tags=["a", "b"], factor=10)]
    schema = "_id string, nums array<long>, tags array<string>, factor long"
    d = _run(spark, '. + {total: reduce .nums[] as $x (0; . + $x)}',
             rows=rows, schema=schema)[0]
    assert d["total"] == 10.0
    d = _run(spark, '. + {runs: [foreach .nums[] as $x (0; . + $x)]}',
             rows=rows, schema=schema)[0]
    assert d["runs"] == [1.0, 3.0, 6.0, 10.0]
    # string accumulator
    d = _run(spark, '. + {joined: reduce .tags[] as $t (""; . + $t)}',
             rows=rows, schema=schema)[0]
    assert d["joined"] == "ab"
    # step-level binding survives a rebuild; expression-level binding;
    # outer binding visible inside a fold lambda
    d = _run(spark, '.factor as $f | {_id, wsum: reduce .nums[] as $x (0; . + $x * $f)}',
             rows=rows, schema=schema)[0]
    assert d == {"_id": "0", "wsum": 100.0}
    d = _run(spark, '. + {scaled: (.factor as $f | $f * 2)}',
             rows=rows, schema=schema)[0]
    assert d["scaled"] == 20


def test_map_and_array_builtins(spark):
    rows = [Row(_id="0", nums=[4, 1, 3, 1], tags=["a", "b"])]
    schema = "_id string, nums array<long>, tags array<string>"
    d = _run(spark, '. + {up: (.tags | map(. + "!")), s: (.nums | add), '
                    'mn: (.nums | min), mx: (.nums | max), '
                    'u: (.nums | unique), srt: (.nums | sort), '
                    'rev: (.nums | reverse), fst: (.nums | first), '
                    'lst: (.nums | last)}',
             rows=rows, schema=schema)[0]
    assert d["up"] == ["a!", "b!"] and d["s"] == 9.0
    assert d["mn"] == 1 and d["mx"] == 4
    assert d["u"] == [1, 3, 4] and d["srt"] == [1, 1, 3, 4]
    assert d["rev"] == [1, 3, 1, 4] and d["fst"] == 4 and d["lst"] == 1


def test_native_array_indexing(spark):
    """r3: literal array indexing compiles to try_element_at (out-of-range
    -> null, jq semantics) — no tier-2 fallback, no Python in the plan."""
    rows = [Row(_id="0", nums=[10, 20, 30],
                items=[Row(k="x", v=1), Row(k="y", v=2)])]
    schema = ("_id string, nums array<long>, "
              "items array<struct<k:string,v:long>>")
    d = _run(spark, '. + {first: .nums[0], last: .nums[-1], oob: .nums[9], '
                    'k1: .items[1].k, missing: (.items[0].zzz // "none")}',
             rows=rows, schema=schema)[0]
    assert d["first"] == 10 and d["last"] == 30 and d["oob"] is None
    assert d["k1"] == "y" and d["missing"] == "none"
    d = _run(spark, '.nums as $n | . + {second: $n[1]}',
             rows=rows, schema=schema)[0]
    assert d["second"] == 20


def test_fold_and_index_plans_stay_jvm_side(spark):
    """The r3 native constructs (folds, map, indexing) must compile to
    pure Catalyst expressions — a Python eval node means the tier-2
    fallback fired where tier 1 should have."""
    from pincette_mongo_streams_spark import Context, compile_pipeline

    rows = [Row(_id="0", nums=[1, 2, 3])]
    df = spark.createDataFrame(rows, "_id string, nums array<long>")
    out = compile_pipeline([{"$jq":
        '. + {t: reduce .nums[] as $x (0; . + $x), '
        'r: [foreach .nums[] as $x (0; . + $x)], '
        'm: (.nums | map(. * 2)), f: .nums[0]}'}],
        Context(spark=spark))(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_string_interpolation_native(spark):
    r"""r3: "\(expr)" interpolations compile to a native concat chain;
    interpolated KEYS (dynamic) fall to the tier-2 interpreter."""
    docs = _run(spark, r'. + {greet: "hi \(.name)!", t: "age=\(.age + 1)"}')
    assert docs[0]["greet"] == "hi Ada Lovelace!"
    assert docs[0]["t"] == "age=37"
    docs = _run(spark, r'{("k\(.age)"): .name}')
    assert docs[0] == {"k36": "Ada Lovelace"}


def test_add_empty_and_string_arrays(spark):
    """r3 review fixes: add of an empty array is null (jq semantics, so
    `// default` fires); add of a string array concatenates."""
    rows = [Row(_id="0", empty=[], words=["a", "b", "c"])]
    schema = "_id string, empty array<double>, words array<string>"
    d = _run(spark, '. + {e: ((.empty | add) // -1), '
                    'w: (.words | add)}',
             rows=rows, schema=schema)[0]
    assert d["e"] == -1.0 and d["w"] == "abc"


def test_comment_and_elif_compile_natively(spark):
    """jq scripts parse once, with the interpreter's grammar: a `#`
    comment line and an `elif` chain compile to Catalyst expressions
    (no Python eval node) and give the interpreter's rows."""
    from pincette_mongo_streams_spark.operators.jq_interp import jq_first

    script = ("# grade each score\n"
              '. + {grade: (if .score >= 90 then "A" '
              'elif .score >= 80 then "B" else "C" end)}')
    rows = [Row(_id="0", score=95), Row(_id="1", score=85),
            Row(_id="2", score=10)]
    df = spark.createDataFrame(rows, "_id string, score long")
    out = compile_pipeline([{"$jq": script}], Context(spark=spark))(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    run_one = jq_first(script)
    got = sorted((r.asDict() for r in out.collect()), key=lambda d: d["_id"])
    assert got == [run_one(r.asDict()) for r in rows]
    assert [d["grade"] for d in got] == ["A", "B", "C"]


def test_keyword_named_fields_compile_natively(spark):
    """A word right after `.` is a field even when it spells a jq
    keyword (`.label`, `.not`, `.try`), as in jq 1.7; `. as`, `. then`
    and the like keep their keyword meaning after whitespace."""
    from pincette_mongo_streams_spark.operators.jq_interp import jq_first

    script = 'select(.label == "x") | . + {n: .not, t: .try}'
    rows = [Row(_id="0", label="x", **{"not": 1, "try": "a"}),
            Row(_id="1", label="y", **{"not": 2, "try": "b"})]
    df = spark.createDataFrame(rows, "_id string, label string, "
                                     "`not` long, `try` string")
    out = compile_pipeline([{"$jq": script}], Context(spark=spark))(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    run_one = jq_first(script)
    assert [r.asDict() for r in out.collect()] == [run_one(rows[0].asDict())]


def test_elif_without_else_keeps_the_input(spark):
    """jq gives `.` when no `if` branch holds and there is no `else`;
    the stage must not turn that into null."""
    from pincette_mongo_streams_spark.operators.jq_interp import jq_first

    script = ('. + {tags: (.tags | map(if . == "spam" then "S" '
              'elif . == "ham" then "H" end))}')
    rows = [Row(_id="0", tags=["spam", "ham", "eggs"])]
    df = spark.createDataFrame(rows, "_id string, tags array<string>")
    out = compile_pipeline([{"$jq": script}], Context(spark=spark))(df)
    got = [r.asDict() for r in out.collect()]
    assert got == [jq_first(script)(rows[0].asDict())]
    assert got[0]["tags"] == ["S", "H", "eggs"]


@pytest.mark.parametrize("stage", [
    {"$jq": ". + {a: "},
    {"$jslt": '{"a": }'},
    {"$jq": 'import "m" as m; m::f'},  # no jq_resolver configured
])
def test_script_errors_raise_when_the_stage_compiles(stage):
    """Scripts parse, and resolve their imports, once when the stage
    compiles; a script that cannot run fails there, not at the first
    micro-batch."""
    with pytest.raises(NotImplementedError):
        compile_pipeline([stage], Context())
