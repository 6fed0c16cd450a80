"""Migration-path tests: the reference plugin's own config JSON — exact
property names (Lookup.java:333-371), Avro schemas, ${macros} — runs
unchanged on this engine, reproducing the golden docs example
(docs/Lookup-batchjoiner.md:29-59)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from lookup_transform_spark import LookupConfigError, LookupSpec
from lookup_transform_spark.plans.cdap_compat import (
    avro_record_to_struct,
    run_pipeline,
    spec_from_cdap_config,
)

# the docs' own example config (docs/Lookup-batchjoiner.md:33-51)
DOCS_CONFIG = {
    "lookupDataset": "phone_numbers",
    "inputKeyField": "customer_id",
    "lookupKeyField": "customer_id",
    "lookupValueField": "phone_number",
    "outputField": "phone",
}

AVRO_OUT_SCHEMA = """{
  "type": "record", "name": "join.output", "fields": [
    {"name": "customer_id", "type": "int"},
    {"name": "first_name", "type": "string"},
    {"name": "last_name", "type": "string"},
    {"name": "phone", "type": ["string", "null"]}
  ]}"""


@pytest.fixture(scope="module")
def fixture_tables(spark):
    customers = spark.createDataFrame(
        [(1, "John", "Doe"), (2, "Jane", "Doe")],
        T.StructType([
            T.StructField("customer_id", T.IntegerType(), False),
            T.StructField("first_name", T.StringType(), False),
            T.StructField("last_name", T.StringType(), False),
        ]),
    )
    phones = spark.createDataFrame(
        [(1, 1, "555-555-555")],
        T.StructType([
            T.StructField("id", T.IntegerType(), False),
            T.StructField("customer_id", T.IntegerType(), False),
            T.StructField("phone_number", T.StringType(), False),
        ]),
    )
    return {"customers": customers, "phone_numbers": phones}


def test_docs_example_runs_unchanged(spark, fixture_tables):
    pipeline = {
        "stages": [
            {"name": "customers", "type": "table-source"},
            {"name": "phone_numbers", "type": "table-source"},
            {"name": "lookup", "type": "Lookup",
             "inputs": ["customers", "phone_numbers"], "config": DOCS_CONFIG},
        ],
        "sink": "lookup",
    }
    out = run_pipeline(spark, pipeline, tables=fixture_tables)
    rows = sorted(out.collect(), key=lambda r: r.customer_id)
    assert [r.phone for r in rows] == ["555-555-555", None]
    assert out.columns == ["customer_id", "first_name", "last_name", "phone"]


def test_avro_schema_parses():
    st = LookupSpec.parse_schema_json(AVRO_OUT_SCHEMA)
    assert st.fieldNames() == ["customer_id", "first_name", "last_name", "phone"]
    assert st["phone"].nullable is True and st["customer_id"].nullable is False
    assert isinstance(st["customer_id"].dataType, T.IntegerType)


def test_avro_schema_enforced_in_config(spark, fixture_tables):
    cfg = dict(DOCS_CONFIG, schema=AVRO_OUT_SCHEMA)
    spec = spec_from_cdap_config(cfg)
    out = spec.apply(fixture_tables["customers"], fixture_tables["phone_numbers"])
    assert out.count() == 2


def test_macro_config_resolves(spark, fixture_tables):
    cfg = dict(DOCS_CONFIG, lookupValueField="${value.field}")
    spec = spec_from_cdap_config(cfg)
    assert spec.macro_fields() == {"lookup_value_field"}
    resolved = spec.resolve({"value.field": "phone_number"})
    out = resolved.apply(
        fixture_tables["customers"], fixture_tables["phone_numbers"]
    )
    assert out.columns[-1] == "phone"


def test_unknown_property_rejected():
    with pytest.raises(LookupConfigError, match="Unknown config"):
        spec_from_cdap_config(dict(DOCS_CONFIG, bogus="x"))


def test_avro_nested_types():
    st = avro_record_to_struct(
        {
            "type": "record", "name": "r", "fields": [
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "props", "type": {"type": "map", "values": ["long", "null"]}},
                {"name": "nested", "type": {
                    "type": "record", "name": "n",
                    "fields": [{"name": "x", "type": "double"}]}},
            ],
        }
    )
    assert isinstance(st["tags"].dataType, T.ArrayType)
    assert isinstance(st["props"].dataType, T.MapType)
    assert st["props"].dataType.valueContainsNull is True
    assert isinstance(st["nested"].dataType, T.StructType)


def test_pipeline_validation_errors(spark, fixture_tables):
    with pytest.raises(LookupConfigError, match="exactly 2 inputs"):
        run_pipeline(
            spark,
            {"stages": [
                {"name": "customers", "type": "table-source"},
                {"name": "l", "type": "Lookup", "inputs": ["customers"],
                 "config": DOCS_CONFIG}]},
            tables=fixture_tables,
        )
    with pytest.raises(LookupConfigError, match="not an input"):
        run_pipeline(
            spark,
            {"stages": [
                {"name": "customers", "type": "table-source"},
                {"name": "phones2", "type": "table-source"},
                {"name": "l", "type": "Lookup",
                 "inputs": ["customers", "phones2"], "config": DOCS_CONFIG}]},
            tables={**fixture_tables, "phones2": fixture_tables["phone_numbers"]},
        )


def test_avro_logical_types():
    # the full CDAP Schema.LogicalType surface Schema.parseJson accepts
    # (Lookup.java:396): date, time, timestamp, local-timestamp,
    # datetime, decimal, uuid, plus enum/fixed complex kinds
    from pyspark.sql import types as T

    from lookup_transform_spark.plans.cdap_compat import avro_record_to_struct

    record = {
        "type": "record", "name": "r", "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts_us",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "ts_ms",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "lts",
             "type": {"type": "long",
                      "logicalType": "local-timestamp-micros"}},
            {"name": "dt",
             "type": {"type": "string", "logicalType": "datetime"}},
            {"name": "dec",
             "type": {"type": "bytes", "logicalType": "decimal",
                      "precision": 10, "scale": 2}},
            {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
            {"name": "e", "type": {"type": "enum", "name": "color",
                                   "symbols": ["RED", "GREEN"]}},
            {"name": "f", "type": {"type": "fixed", "name": "md5",
                                   "size": 16}},
            {"name": "opt_d",
             "type": ["null", {"type": "int", "logicalType": "date"}]},
        ],
    }
    st = avro_record_to_struct(record)
    by_name = {f.name: f for f in st.fields}
    assert isinstance(by_name["d"].dataType, T.DateType)
    assert isinstance(by_name["ts_us"].dataType, T.TimestampType)
    assert isinstance(by_name["ts_ms"].dataType, T.TimestampType)
    assert isinstance(by_name["lts"].dataType, T.TimestampNTZType)
    assert isinstance(by_name["dt"].dataType, T.StringType)
    assert by_name["dec"].dataType == T.DecimalType(10, 2)
    assert isinstance(by_name["u"].dataType, T.StringType)
    assert isinstance(by_name["e"].dataType, T.StringType)
    assert isinstance(by_name["f"].dataType, T.BinaryType)
    assert isinstance(by_name["opt_d"].dataType, T.DateType)
    assert by_name["opt_d"].nullable and not by_name["d"].nullable


def test_avro_time_logical_type():
    from pyspark.sql import types as T

    from lookup_transform_spark.plans.cdap_compat import avro_record_to_struct

    st = avro_record_to_struct({
        "type": "record", "name": "r", "fields": [
            {"name": "t_us",
             "type": {"type": "long", "logicalType": "time-micros"}},
            {"name": "t_ms",
             "type": {"type": "int", "logicalType": "time-millis"}},
        ],
    })
    expected = T.TimeType() if hasattr(T, "TimeType") else T.LongType()
    assert st.fields[0].dataType == expected


def test_avro_decimal_requires_precision():
    import pytest

    from lookup_transform_spark.plans.cdap_compat import avro_record_to_struct

    with pytest.raises(ValueError, match="precision"):
        avro_record_to_struct({
            "type": "record", "name": "r", "fields": [
                {"name": "dec",
                 "type": {"type": "bytes", "logicalType": "decimal"}},
            ],
        })


def test_avro_unknown_logical_falls_back_to_base():
    # Avro spec: readers that don't recognize a logical type use the
    # underlying primitive
    from pyspark.sql import types as T

    from lookup_transform_spark.plans.cdap_compat import avro_record_to_struct

    st = avro_record_to_struct({
        "type": "record", "name": "r", "fields": [
            {"name": "x",
             "type": {"type": "long", "logicalType": "duration-ish"}},
            # Avro's standard `duration` annotates fixed(12) — the
            # fallback must reach NON-primitive base kinds too
            {"name": "dur",
             "type": {"type": "fixed", "name": "d", "size": 12,
                      "logicalType": "duration"}},
            {"name": "en",
             "type": {"type": "enum", "name": "e", "symbols": ["A", "B"],
                      "logicalType": "custom-enum"}},
            {"name": "arr",
             "type": {"type": "array", "items": "int",
                      "logicalType": "custom-list"}},
        ],
    })
    assert isinstance(st.fields[0].dataType, T.LongType)
    assert isinstance(st.fields[1].dataType, T.BinaryType)
    assert isinstance(st.fields[2].dataType, T.StringType)
    assert st.fields[3].dataType == T.ArrayType(T.IntegerType(), False)


def test_macroed_avro_schema_resolves_at_apply_time(spark, fixture_tables):
    """r8 review: a macro'd CDAP ``schema`` property skips eager
    normalization and must parse as Avro at apply() time — the lazy
    import named a nonexistent symbol, so this path ALWAYS failed with
    a bogus 'Unable to parse schema' config error."""
    cfg = dict(DOCS_CONFIG, schema="${out.schema}")
    spec = spec_from_cdap_config(cfg)
    assert "schema_json" in spec.macro_fields()
    resolved = spec.resolve({"out.schema": AVRO_OUT_SCHEMA})
    out = resolved.apply(
        fixture_tables["customers"], fixture_tables["phone_numbers"]
    )
    assert out.columns == ["customer_id", "first_name", "last_name", "phone"]
    assert out.count() == 2


def test_missing_required_property_uses_taxonomy(spark, fixture_tables):
    """A missing required property must surface as the reference's
    'Missing required field' failure (Lookup.java:411-428), not a raw
    KeyError from the config dict."""
    cfg = {k: v for k, v in DOCS_CONFIG.items() if k != "lookupDataset"}
    spec = spec_from_cdap_config(cfg)  # constructs; validation decides
    with pytest.raises(LookupConfigError, match="Missing required"):
        spec.validate(
            {
                "customers": fixture_tables["customers"].schema,
                "phone_numbers": fixture_tables["phone_numbers"].schema,
            }
        )
    pipeline = {
        "stages": [
            {"name": "customers", "type": "table-source"},
            {"name": "phone_numbers", "type": "table-source"},
            {"name": "lookup", "type": "Lookup",
             "inputs": ["customers", "phone_numbers"], "config": cfg},
        ],
        "sink": "lookup",
    }
    with pytest.raises(LookupConfigError, match="Missing required"):
        run_pipeline(spark, pipeline, tables=fixture_tables)


def test_duplicate_input_stage_names_rejected(spark, fixture_tables):
    pipeline = {
        "stages": [
            {"name": "phone_numbers", "type": "table-source"},
            {"name": "lookup", "type": "Lookup",
             "inputs": ["phone_numbers", "phone_numbers"],
             "config": DOCS_CONFIG},
        ],
        "sink": "lookup",
    }
    with pytest.raises(LookupConfigError, match="distinct"):
        run_pipeline(spark, pipeline, tables=fixture_tables)


def test_unresolved_macro_is_config_error(spark, fixture_tables):
    """r8 review: a ${name} with no binding in macros= escaped as a raw
    KeyError from the substitution dict — every config mistake in this
    module must surface as LookupConfigError."""
    pipeline = {
        "stages": [
            {"name": "customers", "type": "table-source"},
            {"name": "phone_numbers", "type": "table-source"},
            {"name": "lookup", "type": "Lookup",
             "inputs": ["customers", "phone_numbers"],
             "config": dict(DOCS_CONFIG, lookupValueField="${value.field}")},
        ],
        "sink": "lookup",
    }
    with pytest.raises(LookupConfigError, match="Unresolved macro"):
        run_pipeline(
            spark, pipeline, tables=fixture_tables,
            macros={"other.name": "x"},
        )
