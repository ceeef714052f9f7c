"""Entity->rows flattening: the reference's core semantics, Spark-first.

Reproduces lmmx/wikidata-pq's five-table flattening of nested-JSON
entity records (reference: process.py:285-348, claims.py:37-213) with
Catalyst-native operators only (from_json, explode, map_entries,
struct access, row-indexed equi-joins, unionByName) -- no Python UDFs.

Tables (reference: config.py:29-34):
  labels / descriptions : {lang: {language, value}}        -> (id, language, value)
  aliases               : {lang: [{language, value}, ...]} -> (id, language, value)
  links                 : {site: {site, title}}            -> (id, site, title)
  claims                : {P##: [claim, ...]}              -> four datatype branches

The claims dataflow mirrors reference claims.py:
  base      : explode map values -> explode claim list -> unnest mainsnak
              (reference: claims.py:37-45)
  wikibase  : row-indexed lookup join on (row_id, language) against the
              exploded datavalue.labels map -- the cartesian-avoidance
              rewrite (reference: claims.py:48-89)
  quantity  : split on unit-labels emptiness; unit-ful joins unit-labels,
              dimensionless explodes property-labels directly; branches
              re-united diagonally (reference: claims.py:92-146)
  scalar    : explode property-labels (reference: claims.py:149-160)
  monolingual: language comes FROM the datavalue; property label fetched
              by map lookup (reference: claims.py:163-195 uses a join;
              element_at on the map is the Spark-native equivalent with
              identical semantics)
  concat    : unionByName(allowMissingColumns=True) == pl.concat(
              how="diagonal") (reference: claims.py:206-213)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Declared schemas (the reference pins these and validates runtime
# inference against them, reference: process.py:111-183; see
# plans.schema_check for the subset-tolerant validation semantics).
LANG_VALUE = T.StructType(
    [T.StructField("language", T.StringType()), T.StructField("value", T.StringType())]
)
LABELS_SCHEMA = T.MapType(T.StringType(), LANG_VALUE)
ALIASES_SCHEMA = T.MapType(T.StringType(), T.ArrayType(LANG_VALUE))
SITELINK = T.StructType(
    [T.StructField("site", T.StringType()), T.StructField("title", T.StringType())]
)
SITELINKS_SCHEMA = T.MapType(T.StringType(), SITELINK)

# int-or-float union fields (the raw JSON mixes them, reference:
# README.md:64-67): declared as a two-field widening struct exactly like
# the reference (latitude__number/latitude__integer, process.py:135-145);
# branches coalesce to double.
def _widened(prefix: str, int_first: bool = False) -> T.StructType:
    num = T.StructField(f"{prefix}__number", T.DoubleType())
    integer = T.StructField(f"{prefix}__integer", T.LongType())
    return T.StructType([integer, num] if int_first else [num, integer])


DATAVALUE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("value_id", T.StringType()),      # wikibase-item target
        T.StructField("value_str", T.StringType()),     # string/time/external-id/...
        T.StructField("amount", T.DoubleType()),        # quantity
        T.StructField("unit", T.StringType()),          # quantity unit entity
        # quantity bounds (reference: upperBound/lowerBound strings,
        # process.py:128-129; Spark collapses numerics to double)
        T.StructField("upper_bound", T.DoubleType()),
        T.StructField("lower_bound", T.DoubleType()),
        # time datavalue extras (reference: process.py:130-134 --
        # time stays a string in value_str; these ride alongside)
        T.StructField("timezone", T.LongType()),
        T.StructField("before", T.LongType()),
        T.StructField("after", T.LongType()),
        T.StructField("calendarmodel", T.StringType()),
        T.StructField("text", T.StringType()),          # monolingualtext
        T.StructField("language", T.StringType()),      # monolingualtext
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("unit_labels", T.MapType(T.StringType(), T.StringType())),
        # globe-coordinate (reference: process.py:118-148): int/float
        # union widening structs + globe; altitude is always-null in the
        # source (pl.Null, process.py:147) -- kept as an always-null string
        T.StructField("latitude", _widened("latitude")),
        T.StructField("longitude", _widened("longitude")),
        T.StructField("precision", _widened("precision", int_first=True)),
        T.StructField("globe", T.StringType()),
        T.StructField("altitude", T.StringType()),
    ]
)
# Qualifier snak: property + datatype + datavalue (the inner shape of the
# reference's MAINSNAK_SCHEMA reused by QUALS_SCHEMA, process.py:151-160).
QUAL_SNAK = T.StructType(
    [
        T.StructField("property", T.StringType()),
        T.StructField("datatype", T.StringType()),
        T.StructField("datavalue", DATAVALUE),
    ]
)
# reference QUALS_SCHEMA = Struct{key, value: List(MAINSNAK)} -- a map
# entry; the Spark-native encoding is the map itself.
QUALIFIERS_SCHEMA = T.MapType(T.StringType(), T.ArrayType(QUAL_SNAK))
# reference REFS_SCHEMA = List(QUALS_SCHEMA); claim.references = List(REFS)
REFERENCES_SCHEMA = T.ArrayType(QUALIFIERS_SCHEMA)
MAINSNAK = T.StructType(
    [
        T.StructField("property", T.StringType()),
        T.StructField("datatype", T.StringType()),
        T.StructField("datavalue", DATAVALUE),
        T.StructField("property_labels", T.MapType(T.StringType(), T.StringType())),
    ]
)
CLAIM = T.StructType(
    [
        T.StructField("mainsnak", MAINSNAK),
        T.StructField("rank", T.StringType()),
        T.StructField("qualifiers", QUALIFIERS_SCHEMA),
        T.StructField("references", REFERENCES_SCHEMA),
    ]
)
CLAIMS_SCHEMA = T.MapType(T.StringType(), T.ArrayType(CLAIM))

WIKIBASE_TYPES = ["wikibase-item", "wikibase-property"]
# the reference's full scalar-datatype dispatch list (reference:
# partitioning/claims.py:19-34) -- language lives in property-labels only
SCALAR_TYPES = [
    "external-id",
    "string",
    "time",
    "globe-coordinate",
    "commonsMedia",
    "math",
    "musical-notation",
    "geo-shape",
    "tabular-data",
    "url",
    "wikibase-lexeme",
    "wikibase-form",
    "wikibase-sense",
    "entity-schema",
]


def flatten_labels(df: DataFrame, column: str = "labels") -> DataFrame:
    """Map<Record> normalisation (reference: process.py:42-48 +
    transforms.py:23-25): decode -> explode -> drop key -> unnest."""
    m = F.from_json(F.col(column), LABELS_SCHEMA)
    kv = df.select("id", F.explode(m).alias("key", "v")).drop("key")
    return kv.select("id", F.col("v.language").alias("language"), F.col("v.value").alias("value"))


def flatten_aliases(df: DataFrame) -> DataFrame:
    """Map<List<Record>> variant with null-row dropping (~10% null by
    design, reference: transforms.py:28-35, README.md:48-52)."""
    m = F.from_json(F.col("aliases"), ALIASES_SCHEMA)
    kv = (
        df.na.drop(subset=["aliases"])
        .select("id", F.explode(m).alias("key", "vs"))
        .drop("key")
        .select("id", F.explode("vs").alias("v"))
    )
    return kv.select("id", F.col("v.language").alias("language"), F.col("v.value").alias("value"))


def flatten_links(df: DataFrame) -> DataFrame:
    """Sitelinks map (reference: process.py:98-103)."""
    m = F.from_json(F.col("sitelinks"), SITELINKS_SCHEMA)
    kv = df.select("id", F.explode(m).alias("key", "v")).drop("key")
    return kv.select("id", F.col("v.site").alias("site"), F.col("v.title").alias("title"))


def _claims_base(df: DataFrame) -> DataFrame:
    """Shared base: explode claims map -> claim array -> unnest mainsnak
    (reference: claims.py:37-45); synthetic row id for the lookup joins
    (reference: claims.py:54-56 with_row_index).

    The row id is a DETERMINISTIC composite (id, map key, position in
    the claim list) rather than monotonically_increasing_id(): the
    branches derive two independently re-evaluated subtrees from this
    base and join them on _row_id, and a nondeterministic id could
    mis-pair them under speculative re-execution or an upstream shuffle
    recompute."""
    m = F.from_json(F.col("claims"), CLAIMS_SCHEMA)
    base = (
        df.na.drop(subset=["claims"])
        .select("id", F.explode(m).alias("key", "claim_list"))
        .select("id", "key", F.posexplode("claim_list").alias("pos", "claim"))
        .select(
            "id",
            F.concat_ws("\x00", "id", "key", F.col("pos").cast("string")).alias("_row_id"),
            F.col("claim.rank").alias("rank"),
            F.col("claim.mainsnak.property").alias("property"),
            F.col("claim.mainsnak.datatype").alias("datatype"),
            F.col("claim.mainsnak.datavalue").alias("datavalue"),
            F.col("claim.mainsnak.property_labels").alias("property_labels"),
            # provenance/qualification travel with every flattened row
            # (reference: claims_base unnests value{mainsnak, rank,
            # references, qualifiers}, claims.py:37-45 + process.py:160-183)
            F.col("claim.qualifiers").alias("qualifiers"),
            F.col("claim.references").alias("references"),
        )
    )
    return base


# output scalar columns with their dtypes (branches missing a column emit
# a typed null so the diagonal concat never widens dtypes)
_OUT_COLS = [
    ("id", "string"), ("property", "string"), ("datatype", "string"),
    ("rank", "string"), ("language", "string"), ("property_label", "string"),
    ("value_id", "string"), ("value_str", "string"), ("amount", "double"),
    ("unit", "string"), ("upper_bound", "double"), ("lower_bound", "double"),
    ("datavalue_label", "string"),
    ("latitude", "double"), ("longitude", "double"), ("precision", "double"),
    ("globe", "string"),
    ("timezone", "bigint"), ("before", "bigint"), ("after", "bigint"),
    ("calendarmodel", "string"),
]
# nested columns carried verbatim from the base through every branch
_CARRY_COLS = ["qualifiers", "references"]


def _select_out(df: DataFrame, **overrides) -> DataFrame:
    cols = []
    for c, dtype in _OUT_COLS:
        if c in overrides:
            cols.append(overrides[c].alias(c))
        elif c in df.columns:
            cols.append(F.col(c))
        else:
            cols.append(F.lit(None).cast(dtype).alias(c))
    cols += [F.col(c) for c in _CARRY_COLS]
    return df.select(*cols)


def _wikibase_branch(base: DataFrame) -> DataFrame:
    """Row-indexed equi-join on (_row_id, language): the inner join IS
    the language-match filter (reference: claims.py:48-89)."""
    wb = base.filter(F.col("datatype").isin(WIKIBASE_TYPES))
    lookup = wb.select(
        F.col("_row_id").alias("_rid"),
        F.explode(F.col("datavalue.labels")).alias("_lang", "datavalue_label"),
    )
    main = wb.select(
        "id", "property", "datatype", "rank", "_row_id",
        F.col("datavalue.value_id").alias("value_id"),
        F.explode("property_labels").alias("language", "property_label"),
        *_CARRY_COLS,
    )
    joined = main.join(
        lookup,
        (main["_row_id"] == lookup["_rid"]) & (main["language"] == lookup["_lang"]),
        "inner",
    ).drop("_lang", "_rid")
    return _select_out(joined)


def _quantity_branch(base: DataFrame) -> DataFrame:
    """Unit-ful vs dimensionless split on unit-labels emptiness
    (reference: claims.py:92-146, list.len()>0 predicate at 99)."""
    q = base.filter(F.col("datatype") == "quantity")
    # Null-safe: a JSON record may omit unit_labels entirely, in which
    # case from_json yields a NULL map and a bare `size(...) > 0` is
    # NULL -- failing BOTH branches and silently dropping the claim.
    # Missing unit_labels means dimensionless (reference: claims.py:99
    # treats list.len()==0 and absent identically).
    has_unit = F.coalesce(
        F.size(F.map_keys(F.col("datavalue.unit_labels"))) > 0, F.lit(False)
    )

    unitful = q.filter(has_unit)
    lookup = unitful.select(
        F.col("_row_id").alias("_rid"),
        F.explode(F.col("datavalue.unit_labels")).alias("_lang", "datavalue_label"),
    )
    main = unitful.select(
        "id", "property", "datatype", "rank", "_row_id",
        F.col("datavalue.amount").alias("amount"),
        F.col("datavalue.unit").alias("unit"),
        F.col("datavalue.upper_bound").alias("upper_bound"),
        F.col("datavalue.lower_bound").alias("lower_bound"),
        F.explode("property_labels").alias("language", "property_label"),
        *_CARRY_COLS,
    )
    u = main.join(
        lookup,
        (main["_row_id"] == lookup["_rid"]) & (main["language"] == lookup["_lang"]),
        "inner",
    ).drop("_lang", "_rid")

    dimless = q.filter(~has_unit).select(
        "id", "property", "datatype", "rank",
        F.col("datavalue.amount").alias("amount"),
        F.col("datavalue.upper_bound").alias("upper_bound"),
        F.col("datavalue.lower_bound").alias("lower_bound"),
        F.explode("property_labels").alias("language", "property_label"),
        *_CARRY_COLS,
    )
    return _select_out(u).unionByName(_select_out(dimless))


def _widen(field: str) -> "F.Column":
    """int-or-float union -> double (reference keeps both fields,
    process.py:135-145; Spark collapses to DoubleType per SURVEY §1.2)."""
    return F.coalesce(
        F.col(f"datavalue.{field}.{field}__number"),
        F.col(f"datavalue.{field}.{field}__integer").cast("double"),
    ).alias(field)


def _scalar_branch(base: DataFrame) -> DataFrame:
    """Direct property-labels explode (reference: claims.py:149-160)
    over the full 14-type scalar dispatch list; globe-coordinate rows
    additionally surface widened lat/lon/precision + globe."""
    s = base.filter(F.col("datatype").isin(SCALAR_TYPES)).select(
        "id", "property", "datatype", "rank",
        F.col("datavalue.value_str").alias("value_str"),
        _widen("latitude"), _widen("longitude"), _widen("precision"),
        F.col("datavalue.globe").alias("globe"),
        F.col("datavalue.timezone").alias("timezone"),
        F.col("datavalue.before").alias("before"),
        F.col("datavalue.after").alias("after"),
        F.col("datavalue.calendarmodel").alias("calendarmodel"),
        F.explode("property_labels").alias("language", "property_label"),
        *_CARRY_COLS,
    )
    return _select_out(s)


def _monolingual_branch(base: DataFrame) -> DataFrame:
    """Language comes from the datavalue; the property label is the map
    entry for THAT language (reference: claims.py:163-195 join;
    element_at has identical inner-join-miss semantics via the
    null-filter)."""
    m = base.filter(F.col("datatype") == "monolingualtext").select(
        "id", "property", "datatype", "rank",
        F.col("datavalue.text").alias("value_str"),
        F.col("datavalue.language").alias("language"),
        F.element_at(F.col("property_labels"), F.col("datavalue.language")).alias(
            "property_label"
        ),
        *_CARRY_COLS,
    )
    return _select_out(m.filter(F.col("property_label").isNotNull()))


def flatten_claims(df: DataFrame, materialize_base: bool = True) -> DataFrame:
    """Four-branch claims flattening + diagonal concat
    (reference: claims.py:198-213).

    ``materialize_base``: the four branches are independent subtrees
    over one shared base, and Spark has no common-subexpression reuse
    across union branches -- unmaterialized, the expensive JSON parse +
    double explode would run once PER BRANCH (4x; Catalyst also pushes
    each branch's datatype filter below any shared exchange, defeating
    ReusedExchange). A lazy ``localCheckpoint`` pins the parsed base so
    it computes exactly once and every branch reads the materialized
    blocks -- the Spark form of the reference sinking its base to disk
    between stages, and the same lineage-truncation discipline as the
    CC loop (canonicalize.py). Pass False to keep the pure-lazy plan
    (e.g. when a caller materializes the base itself).
    """
    base = _claims_base(df)
    if materialize_base:
        base = base.localCheckpoint(eager=False)
    out = (
        _wikibase_branch(base)
        .unionByName(_quantity_branch(base), allowMissingColumns=True)
        .unionByName(_scalar_branch(base), allowMissingColumns=True)
        .unionByName(_monolingual_branch(base), allowMissingColumns=True)
    )
    return out


def flatten_all(df: DataFrame) -> dict[str, DataFrame]:
    """All five tables from one entity frame (reference: process.py:293-348)."""
    return {
        "labels": flatten_labels(df, "labels"),
        "descriptions": flatten_labels(df, "descriptions"),
        "aliases": flatten_aliases(df),
        "links": flatten_links(df),
        "claims": flatten_claims(df),
    }


# declared schema per JSON column, for the reference's
# declare -> infer -> subset-validate discipline (process.py:336-347)
DECLARED_COLUMN_SCHEMAS = {
    "labels": LABELS_SCHEMA,
    "descriptions": LABELS_SCHEMA,
    "aliases": ALIASES_SCHEMA,
    "sitelinks": SITELINKS_SCHEMA,
    "claims": CLAIMS_SCHEMA,
}


def validate_entity_schemas(df: DataFrame, sample: int = 1000) -> None:
    """Infer each JSON column's runtime schema from the data and
    validate it is a SUBSET of the declared schema -- fatal on drift,
    exactly the reference's per-file gate before flattening
    (reference: process.py:336-347 SystemExit on unacceptable diff).
    Dynamic-key maps (labels, claims, ...) infer as structs of observed
    keys; schema_check validates each observed key's value shape
    against the declared map value type.
    """
    from ..plans import schema_check

    for column, declared in DECLARED_COLUMN_SCHEMAS.items():
        if column in df.columns:
            schema_check.check_json_column(
                df.sparkSession, df, column, declared, sample
            )
