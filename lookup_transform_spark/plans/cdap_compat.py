"""CDAP-config compatibility: run the reference plugin's own config on
Spark, unchanged.

A user of the reference configures the Lookup stage with these exact
property names (Lookup.Config fields, Lookup.java:333-371; same names in
widgets/Lookup-batchjoiner.json):

    lookupDataset, inputKeyField, lookupKeyField, lookupValueField,
    outputField (optional), schema (optional, Avro-style JSON)

``spec_from_cdap_config`` maps that dict — macros (``${...}``) and all —
onto a LookupSpec, including converting the CDAP/Avro record schema
(the format produced by ``Schema.toString()`` and parsed at
Lookup.java:396) into a Spark StructType. ``run_pipeline`` executes a
minimal CDAP-shaped pipeline description (sources → lookup stages) so a
migrating user can keep their stage configs.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lookup_transform_spark.errors import LookupConfigError, ValidationFailure
from lookup_transform_spark.plans.lookup import LookupSpec

#: Avro primitive → Spark type (the subset CDAP Schema supports;
#: LookupTest.java uses int + string)
_AVRO_PRIMITIVES: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def _avro_type(t: Any) -> tuple[T.DataType, bool]:
    """Avro type node → (Spark type, nullable). Nullability is a union
    with "null", exactly CDAP's ``Schema.nullableOf`` encoding
    (Lookup.java:456-457)."""
    if isinstance(t, str):
        if t == "null":
            return T.NullType(), True
        if t in _AVRO_PRIMITIVES:
            return _AVRO_PRIMITIVES[t], False
        raise ValueError(f"unsupported avro primitive: {t}")
    if isinstance(t, list):  # union — nullable iff "null" is a member
        non_null = [x for x in t if x != "null"]
        if len(non_null) != 1:
            raise ValueError(f"unsupported avro union: {t}")
        dt, _ = _avro_type(non_null[0])
        return dt, len(non_null) != len(t)
    if isinstance(t, dict):
        kind = t.get("type")
        logical = t.get("logicalType")
        if logical is not None:
            dt = _avro_logical_type(kind, logical, t)
            if dt is not None:
                return dt, False
            # unknown logical type: Avro rule — use the underlying type
            # (falls through to the base-kind handling below, so e.g.
            # `duration` over fixed(12) lands on binary, not an error)
        if kind == "record":
            return avro_record_to_struct(t), False
        if kind == "enum":
            # CDAP enums are symbol names on the wire → string column
            return T.StringType(), False
        if kind == "fixed":
            return T.BinaryType(), False
        if kind == "array":
            dt, item_null = _avro_type(t["items"])
            return T.ArrayType(dt, containsNull=item_null), False
        if kind == "map":
            dt, val_null = _avro_type(t["values"])
            return T.MapType(T.StringType(), dt, valueContainsNull=val_null), False
        if kind in _AVRO_PRIMITIVES:
            return _AVRO_PRIMITIVES[kind], False
    raise ValueError(f"unsupported avro type node: {t!r}")


def _avro_logical_type(kind: Any, logical: str, node: dict) -> T.DataType | None:
    """Avro/CDAP logical types (the full set Schema.parseJson accepts at
    Lookup.java:396: CDAP Schema.LogicalType) → Spark types. Returns
    None for an unrecognized logical type — the Avro rule is to fall
    back to the underlying type, which the caller's base-kind handling
    provides for every kind (record/enum/fixed/array/map/primitive).

    time-* maps to Spark's TimeType when this Spark version ships one,
    else to the underlying micros/millis integer (documented lossless
    encoding — Spark historically has no time-of-day type).
    """
    if logical == "date":
        return T.DateType()
    if logical in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType()
    if logical in ("local-timestamp-micros", "local-timestamp-millis"):
        return T.TimestampNTZType()
    if logical == "datetime":  # CDAP DATETIME: ISO-8601 string on the wire
        return T.StringType()
    if logical in ("time-micros", "time-millis"):
        if hasattr(T, "TimeType"):
            return T.TimeType()
        return T.LongType() if logical == "time-micros" else T.IntegerType()
    if logical == "decimal":
        precision = node.get("precision")
        if precision is None:
            raise ValueError(f"avro decimal requires precision: {node!r}")
        return T.DecimalType(int(precision), int(node.get("scale", 0)))
    if logical == "uuid":
        return T.StringType()
    return None  # unknown → caller falls back to the base type


def avro_record_to_struct(record: dict) -> T.StructType:
    """Avro record schema → StructType (field order preserved)."""
    if record.get("type") != "record":
        raise ValueError("expected an avro record schema")
    fields = []
    for f in record.get("fields", []):
        dt, nullable = _avro_type(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


def spec_from_cdap_config(config: dict[str, Any]) -> LookupSpec:
    """The reference's config dict → LookupSpec. Unknown properties are
    rejected (the reference's UI would not produce them)."""
    known = {
        "lookupDataset", "inputKeyField", "lookupKeyField",
        "lookupValueField", "outputField", "schema",
    }
    unknown = set(config) - known
    if unknown:
        raise LookupConfigError(
            [ValidationFailure(f"Unknown config properties: {sorted(unknown)}.",
                               f"Valid properties: {sorted(known)}.")]
        )
    schema_json = config.get("schema")
    if schema_json is not None and "${" not in schema_json:
        # normalize avro → StructType JSON once, so LookupSpec's own
        # schema handling (Spark-native) applies downstream
        schema_json = LookupSpec.parse_schema_json(schema_json).json()
    # .get, not [..]: a missing required property must surface through
    # LookupSpec.validate()'s "Missing required field" taxonomy
    # (Lookup.java:411-428), not as a raw KeyError
    return LookupSpec(
        lookup_dataset=config.get("lookupDataset"),
        input_key_field=config.get("inputKeyField"),
        lookup_key_field=config.get("lookupKeyField"),
        lookup_value_field=config.get("lookupValueField"),
        output_field=config.get("outputField"),
        schema_json=schema_json,
    )


def run_pipeline(
    spark: SparkSession,
    pipeline: dict[str, Any],
    tables: dict[str, DataFrame] | None = None,
    macros: dict[str, str] | None = None,
) -> DataFrame:
    """Execute a minimal CDAP-shaped batch pipeline description:

    {"stages": [
        {"name": "src",  "type": "parquet-source", "config": {"path": ...}},
        {"name": "lkp",  "type": "parquet-source", "config": {"path": ...}},
        {"name": "join", "type": "Lookup", "inputs": ["src", "lkp"],
         "config": {...reference property names...}},
    ], "sink": "join"}

    ``tables`` pre-binds named DataFrames (the MockSource analog from
    ETLBatchTestBase); ``macros`` resolves ${...} placeholders at run
    time, mirroring CDAP's macro evaluation order (Lookup.java:468-484).
    """
    bound: dict[str, DataFrame] = dict(tables or {})
    sink = pipeline.get("sink")
    for stage in pipeline["stages"]:
        name, stype = stage["name"], stage["type"]
        cfg = stage.get("config", {})
        if stype == "parquet-source":
            bound[name] = spark.read.parquet(cfg["path"])
        elif stype == "table-source":
            if name not in bound:
                raise LookupConfigError(
                    [ValidationFailure(f"table-source '{name}' not bound.",
                                       "Pass it via tables=.")]
                )
        elif stype == "Lookup":
            inputs = stage["inputs"]
            if len(inputs) != 2:
                raise LookupConfigError(
                    [ValidationFailure(
                        f"Expected exactly 2 inputs, got {len(inputs)}.",
                        "Wire one input and one lookup stage.")]
                )
            spec = spec_from_cdap_config(cfg)
            if macros:
                try:
                    spec = spec.resolve(macros)
                except KeyError as exc:
                    # a ${name} with no binding is a CONFIG error like
                    # every other mistake in this module, not a raw
                    # KeyError escaping from the substitution dict
                    raise LookupConfigError(
                        [ValidationFailure(
                            f"Unresolved macro {exc.args[0]!r}.",
                            "Pass a value for it via macros=.")]
                    ) from None
            req = {
                "lookupDataset": spec.lookup_dataset,
                "inputKeyField": spec.input_key_field,
                "lookupKeyField": spec.lookup_key_field,
                "lookupValueField": spec.lookup_value_field,
            }
            bad = sorted(
                k for k, v in req.items()
                if v is None or v == "" or (isinstance(v, list) and not v)
            )
            if bad:
                raise LookupConfigError(
                    [ValidationFailure(
                        f"Missing required field {b}.",
                        f"Set {b} in the lookup config.", b)
                     for b in bad]
                )
            lookup_name = spec.lookup_dataset
            if lookup_name not in inputs:
                raise LookupConfigError(
                    [ValidationFailure(
                        f"Lookup dataset '{lookup_name}' is not an input.",
                        f"Set lookupDataset to one of {inputs}.",
                        "lookup_dataset")]
                )
            others = [i for i in inputs if i != lookup_name]
            if len(others) != 1:
                # e.g. inputs = ['lkp', 'lkp']: a duplicate stage name
                # must be a config error, not a raw unpack ValueError
                raise LookupConfigError(
                    [ValidationFailure(
                        f"Inputs must be one input stage and one lookup "
                        f"stage, got {inputs}.",
                        "Wire two distinct stages.")]
                )
            (input_name,) = others
            missing = [i for i in (input_name, lookup_name) if i not in bound]
            if missing:
                # config error, not a raw KeyError: every other config
                # mistake in this module surfaces as LookupConfigError
                raise LookupConfigError(
                    [ValidationFailure(
                        f"Stage '{name}' consumes unbound input(s) "
                        f"{missing}.",
                        "List producing stages before their consumers "
                        "(or pass the table via tables=).")]
                )
            bound[name] = spec.apply(bound[input_name], bound[lookup_name])
        else:
            raise LookupConfigError(
                [ValidationFailure(f"Unknown stage type '{stype}'.",
                                   "Use parquet-source/table-source/Lookup.")]
            )
    out_name = sink if sink else pipeline["stages"][-1]["name"]
    if out_name not in bound:
        raise LookupConfigError(
            [ValidationFailure(
                f"Sink stage '{out_name}' does not exist.",
                f"Set sink to one of {sorted(bound)}.")]
        )
    return bound[out_name]
