"""Document-level API parity: Schema.create / validation_errors /
is_valid mirror the reference library surface (types/schema.rs,
types/validator.rs) on top of the compiled Column predicates."""

from __future__ import annotations

import pytest

from jsonschema_validator_spark.api import Schema, ValidationFailure
from jsonschema_validator_spark.errors import MalformedSchemaError

SCHEMA = {
    "type": "object",
    "required": ["name"],
    "properties": {
        "name": {"type": "string", "minLength": 2},
        "age": {"type": "integer", "minimum": 0},
    },
}


@pytest.fixture(scope="module")
def schema(spark):
    return Schema.create(SCHEMA, spark)


def test_is_valid(schema):
    assert schema.is_valid({"name": "ada", "age": 36})
    assert not schema.is_valid({"name": "ada", "age": -1})
    assert not schema.is_valid({"age": 3})  # required missing
    assert not schema.is_valid(42)  # not an object


def test_validation_errors_attribution(schema):
    errs = schema.validation_errors({"name": "a", "age": -1})
    got = {(e.keyword, e.path) for e in errs}
    # paths use the reference's {path}/{property} scheme, normalized per
    # validation_error.rs:18-26 ('#/x' -> '#x')
    assert ("minLength", "#name") in got
    assert ("minimum", "#age") in got
    assert len(errs) == 2


def test_type_error_message(spark):
    # exact reference message (type_.rs:106)
    s = Schema.create({"type": "string"}, spark)
    errs = s.validation_errors(5)
    assert len(errs) == 1 and errs[0].message == "Invalid Type" and errs[0].keyword == "type"


def test_validate_raises(schema):
    schema.validate({"name": "ok"})
    with pytest.raises(ValidationFailure) as ei:
        schema.validate({"name": "x"})
    assert {e.keyword for e in ei.value.errors} == {"minLength"}


def test_malformed_schema_raises_at_create(spark):
    # Schema::create root check (schema.rs:46-57): compile-time error,
    # never a runtime surprise
    with pytest.raises(MalformedSchemaError):
        Schema.create([1, 2, 3], spark)


def test_boolean_schemas(spark):
    assert Schema.create(True, spark).is_valid({"anything": 1})
    assert not Schema.create(False, spark).is_valid({"anything": 1})


def test_validate_many_batch(spark, schema):
    docs = [
        '{"name": "ada", "age": 36}',
        '{"name": "x"}',
        '{"age": -2}',
        "5",
        '{"k":',  # malformed: parse failure can never be valid
        None,  # absent document: vacuously valid
    ]
    df = spark.createDataFrame([(d,) for d in docs], "j string")
    out = schema.validate_many(df).collect()
    assert [r.valid for r in out] == [True, False, False, False, False, True]
    # row 2: minLength; row 3: required + minimum; row 4: type;
    # row 5: the synthetic parse violation, alone (keyword checks are
    # suppressed for a document that never parsed)
    kws = [sorted(v.keyword for v in r.violations) for r in out]
    assert kws[1] == ["minLength"]
    assert kws[2] == ["minimum", "required"]
    assert "type" in kws[3]
    assert kws[4] == ["parse"]
    assert kws[5] == []


def test_malformed_json_never_valid(spark, schema):
    """ADVICE r2 (medium): try_parse_json -> NULL used to make every
    check vacuous and coalesce to valid=True. Parse failure must be
    invalid on all three batch surfaces; SQL NULL stays vacuously valid
    (absent document)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("bad", '{"k":'), ("null", None), ("ok", '{"name": "ada"}')],
        "id string, j string",
    )
    wv = {r.id: r.valid for r in schema.with_valid(df, "j").collect()}
    assert wv == {"bad": False, "null": True, "ok": True}
    vc = {
        r.id: r.v
        for r in df.select("id", schema.valid_col(F.col("j")).alias("v")).collect()
    }
    assert vc == {"bad": False, "null": True, "ok": True}


def test_bind_temp_names_do_not_clobber_user_columns(spark, schema):
    """ADVICE r2 (low): a user column literally named __jsv_pv must
    survive with_valid/validate_many unchanged."""
    df = spark.createDataFrame(
        [("keep-me", '{"name": "ada"}')], "__jsv_pv string, j string"
    )
    out = schema.with_valid(df, "j").collect()
    assert out[0]["__jsv_pv"] == "keep-me" and out[0].valid
    out2 = schema.validate_many(df).collect()
    assert out2[0]["__jsv_pv"] == "keep-me"


def test_validate_many_parses_once(spark, schema):
    """Plan-shape: the batch path parses the JSON column ONCE and shares
    the variant/tag/object projections across all checks — a validator
    with C checks must not inline C copies of parse_json (measured 2.5x
    the query runtime before binding)."""
    df = spark.createDataFrame([('{"name":"x","age":1}',)], "j string")
    plan = schema.validate_many(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("parseJson") == 1, plan


def test_schema_from_file_sibling_ref(spark, tmp_path):
    """Schema.from_file compiles a spec whose $ref points at a sibling
    file, jailed to the spec directory."""
    import json as _json

    (tmp_path / "common.json").write_text(
        _json.dumps({"defs": {"name": {"type": "string", "minLength": 2}}})
    )
    (tmp_path / "main.json").write_text(
        _json.dumps(
            {
                "type": "object",
                "required": ["name"],
                "properties": {"name": {"$ref": "common.json#/defs/name"}},
            }
        )
    )
    s = Schema.from_file(tmp_path / "main.json", spark)
    assert s.is_valid({"name": "ok"})
    assert not s.is_valid({"name": "x"})
    errs = s.validation_errors({"name": "x"})
    assert {e.keyword for e in errs} == {"minLength"}


def test_schema_draft_autodetect(spark):
    """$schema dialect detection: explicit draft wins; document $schema
    is honored (2020-12 prefixItems only means positional there); no
    $schema falls back to draft7."""
    from jsonschema_validator_spark.api import Schema

    s20 = Schema.create(
        {"$schema": "https://json-schema.org/draft/2020-12/schema",
         "prefixItems": [{"type": "integer"}]},
        spark,
    )
    assert s20.draft == "draft2020-12"
    assert s20.is_valid([1, "anything"]) and not s20.is_valid(["a"])

    s7 = Schema.create({"properties": {"a": {"type": "integer"}}}, spark)
    assert s7.draft == "draft7"

    s4 = Schema.create(
        {"$schema": "http://json-schema.org/draft-04/schema#"}, spark
    )
    assert s4.draft == "draft4"

    forced = Schema.create(
        {"$schema": "https://json-schema.org/draft/2020-12/schema"},
        spark, draft="draft7",
    )
    assert forced.draft == "draft7"


# ---------------------------------------------------------------------------
# SchemaRegistry: per-key dispatch (the tool-call argument-schema shape)
# ---------------------------------------------------------------------------

def _registry(spark, **kw):
    from jsonschema_validator_spark.api import SchemaRegistry

    return SchemaRegistry.create(
        {
            "add": {
                "type": "object",
                "required": ["x"],
                "properties": {"x": {"type": "integer"}},
            },
            "say": {"type": "object", "properties": {"msg": {"minLength": 3}}},
        },
        spark,
        **kw,
    )


def test_registry_dispatches_per_key(spark):
    df = spark.createDataFrame(
        [
            ("add", '{"x": 1}', True),       # valid for add
            ("add", '{"x": "one"}', False),  # wrong type for add's x
            ("add", '{"msg": "hi"}', False), # add requires x
            ("say", '{"msg": "hi"}', False), # too short for say
            ("say", '{"msg": "hey"}', True),
            ("say", '{"x": "one"}', True),   # say ignores x
        ],
        "tool string, payload string, expect boolean",
    )
    out = _registry(spark).with_valid(df, "tool", "payload", out_col="ok")
    assert out.columns == ["tool", "payload", "expect", "ok"]  # tmp cols dropped
    assert all(r.ok == r.expect for r in out.collect())


def test_registry_unknown_and_null_key(spark):
    df = spark.createDataFrame(
        [("nope", '{"x": 1}'), (None, '{"x": 1}')], "tool string, payload string"
    )
    closed = _registry(spark).with_valid(df, "tool", "payload", out_col="ok")
    assert [r.ok for r in closed.collect()] == [False, False]
    open_ = _registry(spark, unknown_key_valid=True).with_valid(
        df, "tool", "payload", out_col="ok"
    )
    assert [r.ok for r in open_.collect()] == [True, True]


def test_registry_parse_failure_precedes_dispatch(spark):
    df = spark.createDataFrame(
        [("add", '{"x":'), ("nope", "{bad"), ("add", None)],
        "tool string, payload string",
    )
    reg = _registry(spark, unknown_key_valid=True)
    out = reg.with_valid(df, "tool", "payload", out_col="ok")
    # malformed payload is invalid even for unknown keys; NULL payload
    # is an absent document and stays vacuously valid
    assert [r.ok for r in out.collect()] == [False, False, True]


def test_registry_empty_raises(spark):
    from jsonschema_validator_spark.api import SchemaRegistry
    from jsonschema_validator_spark.errors import SchemaError

    with pytest.raises(SchemaError):
        SchemaRegistry({})


def test_registry_validate_many(spark):
    df = spark.createDataFrame(
        [
            ("add", '{"x": 1}'),       # clean
            ("add", '{"msg": "hi"}'),  # missing required x
            ("say", '{"msg": "no"}'),  # minLength 3
            ("nope", '{"x": 1}'),      # unknown key -> dispatch violation
            ("add", '{"x":'),          # parse failure
            (None, None),              # null key + absent payload
        ],
        "tool string, payload string",
    )
    out = _registry(spark).validate_many(df, "tool", "payload").collect()
    kw = [[v["keyword"] for v in r.violations] for r in out]
    assert [r.valid for r in out] == [True, False, False, False, False, False]
    assert kw[0] == []
    assert "required" in kw[1]
    assert "minLength" in kw[2]
    assert kw[3] == ["dispatch"]
    assert kw[4] == ["parse"]
    assert kw[5] == ["dispatch"]  # null key, absent payload: still unknown key

    # open-world: unknown keys are clean, parse failure still isn't
    open_ = _registry(spark, unknown_key_valid=True).validate_many(
        df, "tool", "payload"
    ).collect()
    assert [r.valid for r in open_] == [True, False, False, True, False, True]

    # dispatch agrees with the per-schema batch API on matching rows
    from jsonschema_validator_spark.api import Schema

    add = Schema.create(
        {"type": "object", "required": ["x"], "properties": {"x": {"type": "integer"}}},
        spark,
    )
    sub = spark.createDataFrame(
        [('{"x": 1}',), ('{"msg": "hi"}',)], "payload string"
    )
    want = [
        (r.valid, [v["keyword"] for v in r.violations])
        for r in add.validate_many(sub, "payload").collect()
    ]
    got = [(out[0].valid, kw[0]), (out[1].valid, kw[1])]
    assert got == want


# ---------------------------------------------------------------------------
# plan memo: Columns are built once per input schema
# ---------------------------------------------------------------------------

def test_registry_validate_many_reuses_plan_per_schema(spark, gated_calls):
    """A second validate_many on a frame of an equal schema builds no
    check Column; its output equals a freshly created registry's."""
    rows = [("add", '{"x": 1}'), ("add", '{"x": "one"}'), ("say", '{"msg": "no"}'),
            ("nope", "{}"), ("add", '{"x":')]
    schema = "tool string, payload string"
    reg = _registry(spark)
    reg.validate_many(spark.createDataFrame(rows, schema), "tool", "payload").collect()

    gated_calls.clear()
    again = reg.validate_many(spark.createDataFrame(rows, schema), "tool", "payload").collect()
    assert gated_calls == []
    fresh = _registry(spark).validate_many(
        spark.createDataFrame(rows, schema), "tool", "payload"
    ).collect()
    assert gated_calls  # the fresh registry did build its Columns
    assert again == fresh
    assert [r.valid for r in again] == [True, False, False, False, False]


def test_plan_memo_keys_on_input_schema(spark, gated_calls):
    """A frame of a different schema gets its own plan (its own temp
    prefix): a user column named like a temp column survives a call made
    after the plain frame's plan is cached."""
    s = Schema.create(SCHEMA, spark)
    plain = spark.createDataFrame([('{"name": "ada"}',)], "j string")
    assert s.validate_many(plain).first().valid
    clash = spark.createDataFrame(
        [("keep-me", '{"name": "ada"}')], "__jsv_pv string, j string"
    )
    out = s.validate_many(clash).first()
    assert out["__jsv_pv"] == "keep-me" and out.valid
    assert len(s._plans) == 2

    gated_calls.clear()
    # with_valid adds its fused predicate to the cached plan ...
    assert s.with_valid(clash, "j").first()["__jsv_pv"] == "keep-me"
    built = len(gated_calls)
    assert built
    # ... and a second plain frame reuses the plain frame's plan whole
    assert not s.validate_many(
        spark.createDataFrame([('{"name": "x"}',)], "j string")
    ).first().valid
    assert len(gated_calls) == built and len(s._plans) == 2


def test_single_document_calls_reuse_plan(spark, schema, gated_calls):
    schema.is_valid({"name": "ada"})
    schema.validation_errors({"name": "ada"})
    gated_calls.clear()
    assert not schema.is_valid({"name": "x"})
    assert {e.keyword for e in schema.validation_errors({"name": "x"})} == {"minLength"}
    assert gated_calls == []
