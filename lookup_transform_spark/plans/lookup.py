"""The lookup (broadcast enrichment join) operator — the reference's core.

Reference semantics reproduced here (SURVEY.md §2.1 fine print, all
citations into /root/reference):

- left-outer: lookup stage not required (Lookup.java:207); misses keep
  the input row with a null output column (LookupTest.java:171-172).
- broadcast of the lookup side (Lookup.java:208) — here a three-state
  policy, because unconditional broadcast is wrong at 100 TB:
  ``broadcast=False`` binds (a ``merge`` hint: sort-merge join at any
  ``autoBroadcastJoinThreshold``, which spills where a hashed side
  cannot); a lookup side the size gate puts above
  ``broadcast_threshold_rows`` gets no hint, so Spark and AQE pick the
  strategy from the sizes; otherwise the side broadcasts.
- null-unsafe key equality (setNullSafe(false), Lookup.java:224): SQL
  ``=``, null keys never match.
- duplicate lookup keys multiply rows (it is a true join, nothing in
  Lookup.java dedups); ``first_match=True`` opts into deterministic
  map semantics (min-by-tiebreaker).
- select-list: ALL input fields in order + exactly the lookup value
  field(s), aliased (Lookup.java:103-115, 283-295).
- output column(s) always nullable (Lookup.java:455-457) — Spark's
  left join gives this for free; ``output_schema()`` asserts it.
- design-time validation taxonomy of Lookup.java:461-527.
- macros: any config field may be ``${name}``; validation of macro'd
  fields is skipped until resolution (Lookup.java:406-409, 468-484).
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lookup_transform_spark.errors import (
    FailureCollector,
    LookupConfigError,
    ValidationFailure,
)

_MACRO_RE = re.compile(r"\$\{([^}]+)\}")

#: Numeric type widening groups for key-compatibility checks, the analog
#: of CDAP ``Schema.isCompatible`` (Lookup.java:510-514): a join key pair
#: is compatible when both sides sit in the same group (Spark will upcast).
_COMPAT_GROUPS: tuple[tuple[type, ...], ...] = (
    (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
     T.DoubleType, T.DecimalType),
    (T.StringType,),
    # NTZ coerces against DATE/TIMESTAMP in Spark's equi-join analysis
    # the same way DATE does against TIMESTAMP; leaving it out rejected
    # a plain NTZ = NTZ key join as "incompatible" (r8 review)
    (T.DateType, T.TimestampType, T.TimestampNTZType),
    (T.BooleanType,),
    (T.BinaryType,),
)


def _compat_group(dt: T.DataType) -> int:
    for i, group in enumerate(_COMPAT_GROUPS):
        if isinstance(dt, group):
            return i
    return -1


#: Conservative-LOW per-field byte widths for the plan-statistics row
#: estimate. Low widths make ``sizeInBytes / width`` OVER-count rows, so
#: the ``est > threshold`` gate errs toward NOT broadcasting — the safe
#: direction (a spurious broadcast of an oversized side risks OOM; a
#: missed broadcast just falls back to a shuffled join AQE can still
#: promote). Variable-width types use floor-ish values for the same
#: reason.
_FIELD_WIDTH: dict[type, int] = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
    T.TimestampType: 8, T.TimestampNTZType: 8, T.DecimalType: 8,
    T.StringType: 8, T.BinaryType: 8,
}

#: ``sizeInBytes`` for a parquet scan is COMPRESSED on-disk size;
#: multiply it back up so the row estimate stays an over-count (typical
#: parquet ratios on mixed analytic data are 2-4×).
_DECOMPRESSION_FACTOR = 3


_stats_warned: set[str] = set()
_stats_warned_lock = threading.Lock()


def _warn_stats_unavailable_once(exc: Exception) -> None:
    """A TOTAL plan-statistics outage (not a per-plan miss) downgrades
    every stats-gated decision to its conservative fallback. That is
    safe but slow — make it visible once instead of silent (ADVICE r7),
    without spamming per-call. Keyed per FAILURE CLASS, not a single
    global bool (r8 review): one exotic plan whose stats() throws must
    not permanently mute the warning for a genuinely different later
    outage (e.g. a Spark Connect session created afterwards). The lock
    keeps the threaded probe harness from double-warning."""
    key = type(exc).__name__
    with _stats_warned_lock:
        if key in _stats_warned:
            return
        _stats_warned.add(key)
    import warnings

    warnings.warn(
        f"plan statistics unavailable ({key}: {exc}); "
        "size-gated routing will use conservative fallbacks",
        RuntimeWarning,
        stacklevel=3,
    )


_unsized_bcast_warned: set[str] = set()


def _warn_unsizable_broadcast_once(dataset: str) -> None:
    """One warning per lookup dataset when the size gate must trust the
    (defaulted) ``broadcast=True`` on a side Catalyst cannot size."""
    if dataset in _unsized_bcast_warned:
        return
    _unsized_bcast_warned.add(dataset)
    import warnings

    warnings.warn(
        f"lookup side {dataset!r} has no size statistics; keeping the "
        "broadcast hint on an UNSIZABLE source — set broadcast=False "
        "(or materialize the side as parquet so it carries stats) if "
        "it may exceed executor memory",
        RuntimeWarning,
        stacklevel=3,
    )


def _estimated_rows(df: DataFrame) -> int | None:
    """Row estimate from Catalyst plan statistics — zero jobs, zero scans.

    ``rowCount`` when the catalog has CBO stats (exact), else
    ``sizeInBytes`` (file sizes propagated through the optimized plan)
    scaled by ``_DECOMPRESSION_FACTOR`` and divided by a schema-derived
    conservative-low row width — deliberately an OVER-estimate of rows,
    so the broadcast gate errs toward the shuffled-join fallback rather
    than force-broadcasting a side several times over the threshold.
    None when statistics are unavailable (e.g. Spark Connect, where the
    JVM plan isn't reachable).

    The active session is pinned to the calling thread first: JVM-side
    ``SQLConf.get`` is thread-local, so from a worker thread (the
    probes' timeout harness) ``spark.sql.cbo.enabled`` read as OFF and
    ``rowCount`` came back undefined — the r7 scaling probe routed
    ``join_bloom_semi`` down the bloom path on a broadcastable key set
    because of exactly this.
    """
    try:
        stats, _release = _pinned_plan_stats(df)
        try:
            row_count = stats.rowCount()
            if row_count.isDefined():
                return int(str(row_count.get()))
            size = int(str(stats.sizeInBytes()))
        finally:
            _release()
    except Exception as exc:  # pragma: no cover - environment-specific
        _warn_stats_unavailable_once(exc)
        return None
    # Spark reports sources it cannot size (ExistingRDD/LocalRelation
    # behind createDataFrame, some V2 sources) as
    # ``spark.sql.defaultSizeInBytes`` = Long.MaxValue — a sentinel,
    # not a measurement. Propagating it as "~1e18 rows" would make the
    # r10 default broadcast gate silently un-hint every local lookup
    # frame; UNKNOWN is the truthful answer and the gate trusts the
    # author's declared ``broadcast=True`` on unknown (it gates on
    # EVIDENCE of oversize — parquet scans, the 100 TB case, always
    # carry real file-size stats).
    if size >= (1 << 60):
        return None
    width = sum(
        _FIELD_WIDTH.get(type(f.dataType), 8) for f in df.schema.fields
    )
    return size * _DECOMPRESSION_FACTOR // max(width, 1)


def _exact_rows_if_known(df: DataFrame) -> int | None:
    """Catalog-exact row count (CBO ``rowCount``) or None — WITHOUT the
    deliberate sizeInBytes over-count ``_estimated_rows`` falls back to.
    For sizing decisions that scale WORK (e.g. a tile/block count where
    over-counting rows quadratically inflates task count), an inflated
    guess is the wrong tool: callers should fall back to a real
    ``count()`` instead."""
    try:
        stats, _release = _pinned_plan_stats(df)
        try:
            row_count = stats.rowCount()
            return int(str(row_count.get())) if row_count.isDefined() else None
        finally:
            _release()
    except Exception as exc:  # pragma: no cover - environment-specific
        _warn_stats_unavailable_once(exc)
        return None


def _pinned_plan_stats(df: DataFrame):
    """Optimized-plan ``Statistics`` for ``df`` with the owning session
    pinned to the calling thread for the duration of the read. Returns
    ``(stats, release)``; the caller MUST invoke ``release()`` (restores
    the thread's previous active session — leaving OURS bound would
    silently change a multi-session thread's later plans).

    Spark 4 moved the JVM class to sql.classic; fall back to the
    Spark 3 location rather than letting a blanket except swallow the
    miss — a silent total stats outage would route EVERY
    semi_join_auto call down the bloom path (the same mis-route the
    thread-local fix was for). py4j NEVER raises on a missing class
    path: attribute access on an unknown FQN returns another
    JavaPackage (only CALLING one raises), so a try/except here would
    be dead code — the fallback must be an isinstance check (pinned in
    tests/test_plans.py)."""
    from py4j.java_gateway import JavaPackage

    spark = df.sparkSession
    jcls = spark._jvm.org.apache.spark.sql.classic.SparkSession
    if isinstance(jcls, JavaPackage):  # Spark 3.x: no sql.classic
        jcls = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jcls.getActiveSession()  # scala Option
    jcls.setActiveSession(spark._jsparkSession)

    def _release() -> None:
        if prev.isDefined():
            jcls.setActiveSession(prev.get())
        else:
            jcls.clearActiveSession()

    try:
        return df._jdf.queryExecution().optimizedPlan().stats(), _release
    except Exception:
        _release()
        raise


def _column_avg_len(df: DataFrame, col: str) -> int | None:
    """Average byte length of ``col`` from the plan's propagated column
    statistics (``ANALYZE ... FOR COLUMNS`` avgLen, carried through
    projections/filters when CBO is on), or None when no such stat
    reaches this plan. The honest answer for a variable-width column
    without stats IS "unknown" — callers sizing a broadcast must treat
    None as not-broadcastable rather than guess a width."""
    try:
        stats, _release = _pinned_plan_stats(df)
        try:
            it = stats.attributeStats().iterator()
            while it.hasNext():
                kv = it.next()
                if str(kv._1().name()) == col:
                    avg = kv._2().avgLen()
                    return int(str(avg.get())) if avg.isDefined() else None
            return None
        finally:
            _release()
    except Exception as exc:  # pragma: no cover - environment-specific
        _warn_stats_unavailable_once(exc)
        return None


def contains_macro(value: Any) -> bool:
    """True if a config value holds an unresolved ``${...}`` macro
    (fieldsContainMacros analog, Lookup.java:406-409)."""
    return isinstance(value, str) and _MACRO_RE.search(value) is not None


def resolve_macros(value: str, params: dict[str, str]) -> str:
    """Substitute ``${name}`` placeholders from runtime params
    (CDAP macro-resolution analog; unresolved names raise KeyError)."""
    return _MACRO_RE.sub(lambda m: params[m.group(1)], value)


@dataclass(frozen=True)
class LookupSpec:
    """Config surface of the reference plugin (Lookup.java:363-371) plus
    the extension knobs from SURVEY.md §2.2 (B12-B18).

    Fields mirror ``Lookup.Config``: every one may carry a ``${macro}``
    (all six are @Macro in the reference, Lookup.java:333-360).
    """

    lookup_dataset: str
    input_key_field: str | list[str]
    lookup_key_field: str | list[str]
    lookup_value_field: str | list[str]
    output_field: str | list[str] | None = None
    schema_json: str | None = None
    # ---- extension knobs (SURVEY §2.2) ----
    default_value: Any = None          # B12: widget's unshipped defaultValue
    how: str = "left"                  # B16: "inner" = required-lookup
    null_safe: bool = False            # B17: <=> instead of =
    broadcast: bool = True             # B18: False → sort-merge join, always
    # B18 size gate, ON BY DEFAULT since r10: the reference broadcasts
    # unconditionally (Lookup.java:208) — wrong at 100 TB, where a
    # quietly-grown dimension OOMs every executor. 4M rows ≈ low
    # hundreds of MB hashed: comfortably broadcastable, well past any
    # test fixture, and a dim past it flips to the shuffled join AQE
    # can still promote back at runtime if the pruned side turns out
    # tiny (the estimate deliberately over-counts — plans/lookup.py
    # _FIELD_WIDTH — so the gate errs toward not broadcasting).
    # None = no gate (the pre-r10 behavior, force-broadcast).
    broadcast_threshold_rows: int | None = 4_000_000  # B18: size gate
    first_match: bool = False          # B15: dedup lookup side per key
    first_match_order: str | list[str] | None = None  # deterministic tiebreak

    # -- normalized views ------------------------------------------------
    @property
    def input_keys(self) -> list[str]:
        k = self.input_key_field
        return [k] if isinstance(k, str) else list(k)

    @property
    def lookup_keys(self) -> list[str]:
        k = self.lookup_key_field
        return [k] if isinstance(k, str) else list(k)

    @property
    def value_fields(self) -> list[str]:
        v = self.lookup_value_field
        return [v] if isinstance(v, str) else list(v)

    @property
    def output_fields(self) -> list[str]:
        """Output names; empty/None outputField defaults to the value-field
        name (Lookup.java:389-391)."""
        o = self.output_field
        if o is None or o == "":
            return self.value_fields
        out = [o] if isinstance(o, str) else list(o)
        if len(out) != len(self.value_fields):
            raise LookupConfigError(
                [
                    ValidationFailure(
                        f"output_field lists {len(out)} name(s) for "
                        f"{len(self.value_fields)} value field(s).",
                        "Provide one output name per lookup value field.",
                        "output_field",
                    )
                ]
            )
        return [
            name if name else value
            for name, value in zip(out, self.value_fields)
        ]

    # -- macros -----------------------------------------------------------
    def macro_fields(self) -> set[str]:
        """Names of config fields still holding unresolved macros."""
        out = set()
        for name in ("lookup_dataset", "input_key_field", "lookup_key_field",
                     "lookup_value_field", "output_field", "schema_json"):
            val = getattr(self, name)
            vals = val if isinstance(val, list) else [val]
            if any(contains_macro(v) for v in vals):
                out.add(name)
        return out

    def resolve(self, params: dict[str, str]) -> "LookupSpec":
        """Return a copy with all macros substituted (runtime binding)."""
        def r(v):
            if isinstance(v, list):
                return [r(x) for x in v]
            return resolve_macros(v, params) if contains_macro(v) else v

        return replace(
            self,
            lookup_dataset=r(self.lookup_dataset),
            input_key_field=r(self.input_key_field),
            lookup_key_field=r(self.lookup_key_field),
            lookup_value_field=r(self.lookup_value_field),
            output_field=r(self.output_field),
            schema_json=r(self.schema_json),
        )

    # -- design-time validation (Lookup.java:461-527) ----------------------
    def validate(self, inputs: dict[str, T.StructType]) -> T.StructType | None:
        """Pre-flight validation against input schemas; returns the output
        schema, or None when macro'd fields defer resolution.

        Reproduces the reference's error taxonomy:
          missing required config   (Lookup.java:411-428)
          != 2 inputs               (Lookup.java:471-480)
          lookup not among inputs   (Lookup.java:485-489)
          lookup key/value absent   (Lookup.java:490-501)
          input key absent          (Lookup.java:502-509)
          key type incompatibility  (Lookup.java:510-514)
          output-name collision     (Lookup.java:515-518)
        """
        fc = FailureCollector()
        macros = self.macro_fields()

        # required-field presence (validate(), Lookup.java:411-428)
        for prop, val in (
            ("lookup_dataset", self.lookup_dataset),
            ("input_key_field", self.input_key_field),
            ("lookup_key_field", self.lookup_key_field),
            ("lookup_value_field", self.lookup_value_field),
        ):
            if prop in macros:
                continue
            vals = val if isinstance(val, list) else [val]
            if not vals or any(v is None or v == "" for v in vals):
                fc.add(
                    f"Missing required field {prop}.",
                    f"Set {prop} in the lookup config.",
                    prop,
                )
        fc.raise_if_any()

        # structural checks are skippable only for the macro'd parts
        # (Lookup.java:468-484)
        if len(inputs) != 2:
            fc.add(
                f"Expected exactly 2 inputs, got {len(inputs)}.",
                "Connect exactly one input stage and one lookup stage.",
            )
            fc.raise_if_any()

        if "lookup_dataset" in macros:
            return None  # cannot identify sides yet → defer (Lookup.java:193-195)

        if self.lookup_dataset not in inputs:
            fc.add(
                f"Lookup dataset '{self.lookup_dataset}' is not an input.",
                f"Set lookup_dataset to one of: {sorted(inputs)}.",
                "lookup_dataset",
            )
            fc.raise_if_any()

        lookup_schema = inputs[self.lookup_dataset]
        (input_name,) = [n for n in inputs if n != self.lookup_dataset]
        input_schema = inputs[input_name]

        lk_names = set(lookup_schema.fieldNames())
        in_names = set(input_schema.fieldNames())

        if "lookup_key_field" not in macros:
            for k in self.lookup_keys:
                if k not in lk_names:
                    fc.add(
                        f"Lookup key field '{k}' is not in lookup dataset "
                        f"'{self.lookup_dataset}'.",
                        "Set lookup_key_field to a column of the lookup dataset.",
                        "lookup_key_field",
                    )
        if "lookup_value_field" not in macros:
            # SELECTED_FIELD analog: target the ONE offending element of
            # the multi-valued property as "stage.field as alias", the
            # reference's withConfigElement form (Lookup.java:244-248).
            # While output_field is an unresolved macro the aliases are
            # unknowable — fall back to the value-field names (the
            # default alias) so validation of the VALUE fields themselves
            # still runs instead of tripping output_fields' count check
            # on the raw "${...}" string.
            outs = (
                self.value_fields
                if "output_field" in macros
                else self.output_fields
            )
            for v, out in zip(self.value_fields, outs):
                if v not in lk_names:
                    fc.add(
                        f"Lookup value field '{v}' is not in lookup dataset "
                        f"'{self.lookup_dataset}'.",
                        "Set lookup_value_field to a column of the lookup dataset.",
                        config_element=(
                            "lookup_value_field",
                            f"{self.lookup_dataset}.{v} as {out}",
                        ),
                    )
        if "input_key_field" not in macros:
            for k in self.input_keys:
                if k not in in_names:
                    fc.add(
                        f"Input key field '{k}' is not in input '{input_name}'.",
                        "Set input_key_field to a column of the input dataset.",
                        "input_key_field",
                    )
        fc.raise_if_any()

        # key type compatibility (Schema.isCompatible analog, Lookup.java:510-514)
        if "input_key_field" not in macros and "lookup_key_field" not in macros:
            if len(self.input_keys) != len(self.lookup_keys):
                fc.add(
                    "input_key_field and lookup_key_field must have the same "
                    "number of columns.",
                    "",
                    "input_key_field",
                )
                fc.raise_if_any()
            for ik, lk in zip(self.input_keys, self.lookup_keys):
                it = input_schema[ik].dataType
                lt = lookup_schema[lk].dataType
                gi, gl = _compat_group(it), _compat_group(lt)
                if gi == -1 or gl == -1 or gi != gl:
                    fc.add(
                        f"Input key '{ik}' of type {it.simpleString()} is not "
                        f"compatible with lookup key '{lk}' of type "
                        f"{lt.simpleString()}.",
                        "Key fields must have compatible types.",
                        "input_key_field",
                    )

        # output-name collision (Lookup.java:515-518) — OUTPUT_SCHEMA
        # analog: target the offending output-schema field by name
        # (withOutputSchemaField, Lookup.java:249-252), keeping the
        # config_property for the non-CDAP-UI consumer
        if "output_field" not in macros and "lookup_value_field" not in macros:
            seen: set[str] = set()
            for out in self.output_fields:
                if out in in_names:
                    fc.add(
                        f"Output field '{out}' already exists in input "
                        f"'{input_name}'.",
                        "Set output_field to a name not present in the input.",
                        "output_field",
                        output_schema_field=out,
                    )
                if out in seen:
                    # pairwise-distinct check (r8 review): duplicate
                    # output names used to pass validation and die later
                    # in the projection with an opaque
                    # AMBIGUOUS_REFERENCE AnalysisException — and would
                    # declare an output schema with two same-named fields
                    fc.add(
                        f"Output field '{out}' is used more than once.",
                        "Give every output field a distinct name.",
                        "output_field",
                        output_schema_field=out,
                    )
                seen.add(out)
        fc.raise_if_any()

        if macros:
            return None  # some config late-bound → schema not yet known
        return self.output_schema(input_schema, lookup_schema)

    # -- schema derivation (generateOutputSchema, Lookup.java:438-459) ------
    def output_schema(
        self, input_schema: T.StructType, lookup_schema: T.StructType
    ) -> T.StructType:
        """Input fields verbatim + appended output fields forced nullable
        (nullable-of analog, Lookup.java:455-457)."""
        if self.schema_json is not None:
            return self.parse_schema_json(self.schema_json)
        fields = list(input_schema.fields)
        for value_field, out_name in zip(self.value_fields, self.output_fields):
            vt = lookup_schema[value_field].dataType
            fields.append(T.StructField(out_name, vt, nullable=True))
        return T.StructType(fields)

    @staticmethod
    def parse_schema_json(schema_json: str) -> T.StructType:
        """Explicit output-schema override: parse-or-config-error
        (Lookup.java:393-404). Accepts BOTH the Spark StructType JSON
        form and the reference's CDAP/Avro record form — a macro'd
        CDAP ``schema`` property resolves to Avro JSON at apply() time,
        after ``spec_from_cdap_config``'s eager normalization has
        already been skipped, so the dispatch must live here."""
        try:
            loaded = json.loads(schema_json)
            if isinstance(loaded, dict) and loaded.get("type") == "record":
                # lazy import: cdap_compat imports this module at load
                from lookup_transform_spark.plans.cdap_compat import (
                    avro_record_to_struct,
                )

                parsed = avro_record_to_struct(loaded)
            else:
                parsed = T.StructType.fromJson(loaded)
        except Exception as exc:
            # "Unable to parse schema" failure attached to the schema
            # property, as in Lookup.java:398-403.
            raise LookupConfigError(
                [
                    ValidationFailure(
                        f"Unable to parse schema: {exc}",
                        "Provide a Spark StructType JSON or a CDAP/Avro "
                        "record schema.",
                        "schema",
                    )
                ]
            ) from exc
        return parsed

    # -- plan construction (define → JoinDefinition, Lookup.java:186-257) ---
    def apply(self, input_df: DataFrame, lookup_df: DataFrame) -> DataFrame:
        """Assemble the enrichment-join plan.

        The Catalyst logical plan is our JoinDefinition IR: prune the
        lookup side to keys+values (explicit column pruning, the
        reference's one-field select-list — Lookup.java:113,293,315),
        alias everything to dodge ambiguous-column traps, hint broadcast
        per policy, join, and project input.* + outputs.
        """
        if self.macro_fields():
            raise LookupConfigError(
                [
                    ValidationFailure(
                        "Config still contains unresolved macros: "
                        f"{sorted(self.macro_fields())}.",
                        "Call resolve(params) before apply().",
                    )
                ]
            )
        input_name = "__input__" if self.lookup_dataset != "__input__" else "__input2__"
        self.validate(
            {input_name: input_df.schema, self.lookup_dataset: lookup_df.schema}
        )

        key_aliases = [f"__lk_key_{i}__" for i in range(len(self.lookup_keys))]
        out_names = self.output_fields

        # first_match_order names resolve against the ORIGINAL lookup
        # schema: a value field renamed by output_field is ordered under
        # its alias, and a lookup column outside the value list (a
        # dedicated priority column) is carried through the pruned
        # projection temporarily — pruning first and resolving after
        # would make both spellings UNRESOLVED_COLUMN errors.
        order_exprs: list = []
        order_carry: list[tuple[str, str]] = []
        if self.first_match:
            cfg = (
                [self.first_match_order]
                if isinstance(self.first_match_order, str)
                else list(self.first_match_order or out_names)
            )
            v2o = dict(zip(self.value_fields, out_names))
            o2v = dict(zip(out_names, self.value_fields))
            lk_names = set(lookup_df.columns)
            # the ambiguity guard below only applies to an EXPLICIT
            # first_match_order: when cfg fell back to out_names (no
            # order configured), the user never NAMED a column, so
            # alias-shadows-lookup-column isn't an ambiguity — default
            # ordering by the output values is the documented behavior
            explicit_order = self.first_match_order is not None
            for c in cfg:
                if c in out_names:
                    # Ambiguity guard: 'c' is a RENAME alias of value
                    # field o2v[c], but the lookup dataset ALSO has a
                    # real column named 'c' that is a different source
                    # column. Silently ordering by the renamed value
                    # (alias precedence) would ignore the user's
                    # dedicated priority column with no error — refuse
                    # and make them disambiguate.
                    if explicit_order and o2v[c] != c and c in lk_names:
                        raise LookupConfigError(
                            [
                                ValidationFailure(
                                    f"first_match_order column '{c}' is "
                                    f"ambiguous: it is the output alias "
                                    f"of value field '{o2v[c]}' AND a "
                                    "distinct column of the lookup "
                                    "dataset.",
                                    "Order by the original value-field "
                                    f"name '{o2v[c]}' for the renamed "
                                    f"value, or rename the output so "
                                    f"'{c}' only names the lookup "
                                    "column.",
                                    "first_match_order",
                                )
                            ]
                        )
                    order_exprs.append(c)
                elif c in v2o:
                    order_exprs.append(v2o[c])
                elif c in lk_names:
                    alias = f"__ord_{len(order_carry)}__"
                    order_carry.append((c, alias))
                    order_exprs.append(alias)
                else:
                    raise LookupConfigError(
                        [
                            ValidationFailure(
                                f"first_match_order column '{c}' is not "
                                "in the lookup dataset.",
                                "Order by a lookup column or an output "
                                "field name.",
                                "first_match_order",
                            )
                        ]
                    )

        pruned = lookup_df.select(
            *[F.col(k).alias(a) for k, a in zip(self.lookup_keys, key_aliases)],
            *[
                F.col(v).alias(o)
                for v, o in zip(self.value_fields, out_names)
            ],
            *[F.col(c).alias(a) for c, a in order_carry],
            # miss marker for default_value: non-null on every MATCHED
            # row, so found-but-NULL values stay distinguishable from
            # no-match rows (a bare coalesce over the value column
            # would rewrite matched NULLs too)
            *([F.lit(True).alias("__matched__")]
              if self.default_value is not None else []),
        )

        if self.first_match:
            # B15: deterministic map semantics — min-by-tiebreaker per key.
            w = Window.partitionBy(*key_aliases).orderBy(
                *[F.col(c).asc_nulls_last() for c in order_exprs]
            )
            pruned = (
                pruned.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )
        if order_carry:
            pruned = pruned.drop(*[a for _, a in order_carry])

        use_broadcast = self.broadcast
        if use_broadcast and self.broadcast_threshold_rows is not None:
            # B18 size gate from Catalyst plan statistics — zero jobs, no
            # extra scan (the old pruned.count() was a full action over
            # the lookup side per lookup, an extra 100 TB-scale scan).
            # Gate on EVIDENCE of oversize (r10, now that the gate is
            # the default): a measured estimate over the threshold
            # drops the hint; an UNKNOWN estimate (unsizable source —
            # see _estimated_rows' sentinel note) keeps the author's
            # declared broadcast, and a mis-declared big side still
            # has the shuffled-join safety net only when measurable.
            est = _estimated_rows(pruned)
            if est is not None and est > self.broadcast_threshold_rows:
                use_broadcast = False
            elif est is None:
                # ADVICE r10: broadcast=True is the FIELD DEFAULT, so an
                # unsizable side (ExistingRDD / V2 source without stats)
                # inherits a forced broadcast hint the gate exists to
                # prevent — surface that once per process so a pipeline
                # author feeding an unsizable huge source gets a signal
                # before the executors OOM, while stats-carrying parquet
                # (the 100 TB case) never warns.
                _warn_unsizable_broadcast_once(self.lookup_dataset)
        if use_broadcast:
            right = F.broadcast(pruned)
        elif not self.broadcast:
            # the author's opt-out binds: without a hint Spark's own
            # size rule (autoBroadcastJoinThreshold, 32MB under
            # stats.enable_cbo) broadcasted fact-sized sides anyway.
            # Sort-merge, not shuffle_hash: a hinted shuffled hash join
            # builds one in-memory table per partition and cannot spill.
            right = pruned.hint("merge")
        else:
            # the size gate only advises: no hint, AQE may still
            # promote the side to a broadcast at runtime
            right = pruned

        eq = (
            (lambda a, b: a.eqNullSafe(b))
            if self.null_safe
            else (lambda a, b: a == b)
        )
        cond = None
        for ik, ka in zip(self.input_keys, key_aliases):
            clause = eq(input_df[ik], right[ka])
            cond = clause if cond is None else (cond & clause)

        joined = input_df.join(right, cond, self.how)

        outs = []
        for o in out_names:
            col = right[o]
            if self.default_value is not None:
                # B12: the widget's declared-but-unshipped defaultValue
                # (widgets/Lookup-batchjoiner.json:44-51) — "default when
                # no value was found": keyed off the miss marker, so a
                # matched row whose value is genuinely NULL keeps its
                # NULL instead of being rewritten
                col = F.when(
                    right["__matched__"].isNull(), F.lit(self.default_value)
                ).otherwise(col)
            outs.append(col.alias(o))

        result = joined.select(*[input_df[c] for c in input_df.columns], *outs)

        if self.schema_json is not None:
            expected = self.parse_schema_json(self.schema_json)
            self._check_schema(expected, result.schema)
        return result

    @staticmethod
    def _check_schema(expected: T.StructType, actual: T.StructType) -> None:
        """Explicit-schema enforcement: names+types must line up
        (Lookup.java:226-230 applied schema; mismatch = config error)."""
        exp = [(f.name, f.dataType.simpleString()) for f in expected.fields]
        act = [(f.name, f.dataType.simpleString()) for f in actual.fields]
        if exp != act:
            raise LookupConfigError(
                [
                    ValidationFailure(
                        f"Output schema mismatch: expected {exp}, got {act}.",
                        "Align the provided schema with the generated plan schema.",
                        "schema",
                    )
                ]
            )

    # -- lineage (prepareRun, Lookup.java:83-95, 134-184) --------------------
    def lineage(
        self, input_schema: T.StructType, input_name: str = "input"
    ) -> dict[str, dict[str, Any]]:
        """Field-level lineage: one Join op over the key columns, one
        Identity op per passthrough column, one Rename op when the lookup
        value is re-aliased (Lookup.java:148-150, 168-171, 177-180)."""
        ops: dict[str, dict[str, Any]] = {}
        key_cols = set(self.input_keys)
        for name in input_schema.fieldNames():
            if name in key_cols:
                ops[name] = {
                    "operation": "Join",
                    "description": "Joined on key fields",
                    "inputs": sorted(
                        {f"{input_name}.{k}" for k in self.input_keys}
                        | {f"{self.lookup_dataset}.{k}" for k in self.lookup_keys}
                    ),
                }
            else:
                ops[name] = {
                    "operation": "Identity",
                    "description": "Copied from input",
                    "inputs": [f"{input_name}.{name}"],
                }
        for value_field, out in zip(self.value_fields, self.output_fields):
            op = "Identity" if out == value_field else "Rename"
            ops[out] = {
                "operation": op,
                "description": f"{op} of lookup value field",
                "inputs": [f"{self.lookup_dataset}.{value_field}"],
            }
        return ops
