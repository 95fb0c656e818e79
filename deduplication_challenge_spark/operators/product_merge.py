"""Product-record consolidation: the reference's full merge-policy engine,
re-expressed as declarative Spark aggregations (no per-row Python).

Reference semantics reproduced (SURVEY.md §2.4):
  A1  global value frequencies            /root/reference/src/controller.py:94-101
  A2  most-frequent election              /root/reference/src/controller.py:170-204
  A4  least-frequent election             /root/reference/src/controller.py:206-228
  A5  min-id survivor                     /root/reference/src/controller.py:230-235
  A6  lengthiest-value election           /root/reference/src/controller.py:237-244
  A7  completing (set-union)              /root/reference/src/controller.py:269-332
  A8  keyed min/max interval aggregation  /root/reference/src/controller.py:404-450
  A9  energy-efficiency intervals         /root/reference/src/controller.py:355-402
  A10 color rollup                        /root/reference/src/controller.py:334-353
  A11 details provenance                  /root/reference/src/controller.py:103-168
  A12 group consolidation + passthrough   /root/reference/src/main.py:21-97
  J3  url containing elected root_domain  /root/reference/src/controller.py:265

Deliberate, documented relaxations (SURVEY.md §4.3.3 / §7.5):
  * elections use GLOBAL frequencies with the deterministic tie-break
    (frequency, then smallest id) instead of the reference's sequential
    mutable counts (A3) — the reference's iteration order is Python
    hash-seed dependent, so verbatim reproduction is impossible AND
    nondeterministic; group membership is unaffected.
  * merged page_url set is exposed as a ``source_urls`` array column rather
    than a details entry (same information, relational shape).
  * completing SCALARS (eco_friendly, manufacturing_year) widen to arrays in
    the output — the reference does the same implicitly by storing sets.
  * A8 literal fallback keeps ONE literal per key like the reference
    (dict update = last write wins), with "last" pinned to max (row id,
    array position) — the reference's iteration order is its input row
    order, which matches when rows are visited by ascending id.
  * rows whose interval value is null are skipped — the reference's
    normalization layer never feeds aggregate_into_min_max_intervals a None
    (float(None) would raise an uncaught TypeError there).

A merged group is ONE groupBy on the identifier: the elections, the
completing unions, and the members' raw nested arrays collected in id
order, plus the details aggregate joined back.  Nested fields of merged
groups and passthrough rows are then standardized by the same per-row
higher-order expressions, with no exchange.  No UDF anywhere in this module.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplication_challenge_spark.sources.products import (
    COLOR_FIELD,
    ENERGY_FIELD,
    IDENTIFIER,
    INTERVAL_FIELDS,
    INVALID_IDENTIFIERS,
    MERGE_BY_COMPLETING_ARRAYS,
    MERGE_BY_LEAST_FREQUENT,
    MERGE_BY_LENGTHIEST_VALUE,
    MERGE_BY_MOST_FREQUENT,
    PAGE_URL,
)

_SCALAR_ELECTED = (
    MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT + MERGE_BY_LENGTHIEST_VALUE
)
_NESTED_FIELDS = [*INTERVAL_FIELDS, COLOR_FIELD, ENERGY_FIELD]


def _valid_identifier() -> Column:
    c = F.col(IDENTIFIER)
    cond = c.isNotNull()
    for bad in INVALID_IDENTIFIERS:
        cond = cond & (c != F.lit(bad))
    return cond


def attach_group_meta(products: DataFrame) -> DataFrame:
    """Adds group_size (within identifier) and is_mergeable flags."""
    sizes = (
        products.where(_valid_identifier())
        .groupBy(IDENTIFIER)
        .agg(F.count("*").alias("group_size"))
    )
    out = products.join(sizes, IDENTIFIER, "left").withColumn(
        "group_size", F.coalesce(F.col("group_size"), F.lit(1))
    )
    return out.withColumn(
        "is_mergeable", _valid_identifier() & (F.col("group_size") >= 2)
    )


def global_frequencies(products: DataFrame, field: str) -> DataFrame:
    """A1: whole-table value counts for one election field."""
    return products.groupBy(F.col(field).alias("value")).agg(
        F.count("*").alias(f"freq_{field}")
    )


def _with_frequencies(rows: DataFrame, freq_source: DataFrame) -> DataFrame:
    """Broadcast-join per-field frequency tables onto ``rows``. Frequencies
    are computed over ``freq_source`` = the WHOLE table, not just mergeable
    rows — the reference counts before any group filtering
    (/root/reference/src/main.py:117-119)."""
    out = rows
    for field in MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT:
        freqs = global_frequencies(freq_source, field).withColumnRenamed("value", field)
        # no forced broadcast: frequency-table cardinality approaches the
        # full corpus for high-entropy fields (titles/names), and a forced
        # hint bypasses autoBroadcastJoinThreshold — let Catalyst/AQE pick
        # broadcast when the table is actually dim-sized
        out = out.join(freqs, field, "left")
    return out


def _pystr_double(c: Column) -> Column:
    """Format a double like Python's str(float) in the value ranges product
    data occupies (no scientific notation below 1e16).  The reference
    stringifies interval bounds with str(float) (controller.py:440,396-398);
    Java's Double.toString switches to scientific at 1e7 ("4.0E8"), so we go
    through decimal(38,17) — Spark's double->decimal cast uses the shortest
    decimal repr (BigDecimal.valueOf) — then strip trailing zeros.

    Regime guard: the faithful range is |v| in [1e-4, 1e16) — Python's own
    str(float) switches to scientific notation BELOW 1e-4 ('5e-05'), which
    the decimal route cannot reproduce ('0.00005'), and above it the
    decimal route would corrupt silently (>=1e21 overflows decimal(38,17)
    -> NULL; tiny values truncate at 17 fractional digits).  Out-of-regime
    values fall back to the plain double->string cast — Java scientific
    notation instead of Python's, but VISIBLE rather than nulled/zeroed or
    subtly divergent (goldens + the randomized parity test pin the
    in-regime range)."""
    in_regime = (F.abs(c) < F.lit(1e16)) & ((F.abs(c) >= F.lit(1e-4)) | (c == F.lit(0.0)))
    s = c.cast("decimal(38,17)").cast("string")
    stripped = F.regexp_replace(s, r"0+$", "")
    pretty = F.when(
        stripped.endswith("."), F.concat(stripped, F.lit("0"))
    ).otherwise(stripped)
    return F.when(in_regime, pretty).otherwise(c.cast("string"))


def _try_num(v: Column) -> Column:
    return v.cast("string").try_cast("double")


def _row_interval_expr(field: str, keys: list[str], value_col: str, dtype) -> Column:
    """A8 over one row's array: per key, min/max of the numeric values,
    stringified with ``_pystr_double``; a literal (non-numeric) value
    survives only for keys with no numeric value, and then exactly ONE
    literal per key — the reference's dict update keeps the last literal in
    iteration order (/root/reference/src/controller.py:404-450).  "Last" is
    the last array position; a merged group's array is its members' arrays
    concatenated by ascending id, which equals the reference's order when
    rows are visited by ascending id.  Entries whose value is null are
    skipped (the reference's normalization never feeds it a None).

    Higher-order functions do the work inside the row's own task, with no
    exchange.  Lambdas get no subexpression elimination, so a first
    ``transform`` stores each key's raw (min, max, last literal) once and a
    second one formats those stored fields."""
    arr = F.coalesce(F.col(field), F.array().cast(dtype))
    # a key whose entries are ALL null-valued disappears entirely
    ne = F.filter(arr, lambda e: e[value_col].isNotNull())
    key_structs = F.array_distinct(
        F.transform(ne, lambda e: F.struct(*[e[k].alias(k) for k in keys]))
    )

    def raw(ks: Column) -> Column:
        elems = F.filter(
            ne,
            lambda e: reduce(lambda a, b: a & b, [e[k].eqNullSafe(ks[k]) for k in keys]),
        )
        nums = F.filter(
            F.transform(elems, lambda e: _try_num(e[value_col])),
            lambda x: x.isNotNull(),
        )
        lit_vals = F.transform(
            F.filter(elems, lambda e: _try_num(e[value_col]).isNull()),
            lambda e: e[value_col].cast("string"),
        )
        return F.struct(
            *[ks[k].alias(k) for k in keys],
            F.array_min(nums).alias("_min"),
            F.array_max(nums).alias("_max"),
            F.try_element_at(lit_vals, F.lit(-1)).alias("_lit"),  # null on empty
        )

    def formatted(r: Column) -> Column:
        fields = [r[k].alias(k) for k in keys]
        return F.when(
            r["_min"].isNotNull(),
            F.struct(*fields, _pystr_double(r["_min"]).alias("min"),
                     _pystr_double(r["_max"]).alias("max")),
        ).otherwise(F.struct(*fields, r["_lit"].alias("min"), r["_lit"].alias("max")))

    out = F.sort_array(F.transform(F.transform(key_structs, raw), formatted))
    # no surviving keys -> NULL, never an empty array
    return F.when(F.exists(arr, lambda e: e[value_col].isNotNull()), out)


def _row_color_expr(dtype) -> Column:
    """A10 over one row's array: per original color, the distinct non-null
    simple colors, sorted and joined with ', '."""
    arr = F.coalesce(F.col(COLOR_FIELD), F.array().cast(dtype))
    originals = F.array_distinct(F.transform(arr, lambda e: e["original"]))

    def per_orig(o: Column) -> Column:
        simples = F.sort_array(
            F.array_distinct(
                F.filter(
                    F.transform(
                        F.filter(arr, lambda e: e["original"].eqNullSafe(o)),
                        lambda e: e["simple"],
                    ),
                    lambda s: s.isNotNull(),
                )
            )
        )
        return F.struct(o.alias("original"), F.array_join(simples, ", ").alias("simple"))

    out = F.sort_array(F.transform(originals, per_orig))
    return F.when(F.size(arr) > 0, out)


def _row_energy_expr(dtype) -> Column:
    """A9 exactly as the reference (/root/reference/src/controller.py:355-402):
    per entry, entry_max = greatest(-1.0, all percentage values) and
    entry_min = least(values) or -1.0 when the entry has no numeric value —
    so negative values participate, and an all-null entry drags the key's min
    down to -1.0 even when other entries have numerics.  Per (qualitative,
    standard_label): min of entry-mins, max of entry-maxes, stringified into
    struct(qualitative, standard_label, min, max) like the reference's
    output tuples (goldens mirror
    /root/reference/src/tests/test_units.py::test_aggregate_energy_efficiency).
    As in ``_row_interval_expr``, each key's raw bounds are computed once
    and formatted in a second ``transform``."""
    arr = F.coalesce(F.col(ENERGY_FIELD), F.array().cast(dtype))
    key_structs = F.array_distinct(
        F.transform(
            arr,
            lambda e: F.struct(
                e["qualitative"].alias("qualitative"),
                e["standard_label"].alias("standard_label"),
            ),
        )
    )

    def raw(ks: Column) -> Column:
        elems = F.filter(
            arr,
            lambda e: e["qualitative"].eqNullSafe(ks["qualitative"])
            & e["standard_label"].eqNullSafe(ks["standard_label"]),
        )

        def vals(e: Column) -> list[Column]:
            return [e["exact_percentage"], e["max_percentage"], e["min_percentage"]]

        # least/greatest skip nulls; all-null => null => coalesce to the sentinel
        mins = F.transform(elems, lambda e: F.coalesce(F.least(*vals(e)), F.lit(-1.0)))
        maxs = F.transform(elems, lambda e: F.greatest(F.lit(-1.0), *vals(e)))
        return F.struct(
            ks["qualitative"].alias("qualitative"),
            ks["standard_label"].alias("standard_label"),
            F.array_min(mins).alias("_min"),
            F.array_max(maxs).alias("_max"),
        )

    def formatted(r: Column) -> Column:
        return F.struct(
            r["qualitative"].alias("qualitative"),
            r["standard_label"].alias("standard_label"),
            _pystr_double(r["_min"]).alias("min"),
            _pystr_double(r["_max"]).alias("max"),
        )

    out = F.sort_array(F.transform(F.transform(key_structs, raw), formatted))
    return F.when(F.size(arr) > 0, out)


def _standardize_nested(rows: DataFrame) -> DataFrame:
    """Replace every interval field, color and energy_efficiency column of
    ``rows`` by its standardized form (A8/A9/A10), row by row."""
    std = {
        f: _row_interval_expr(f, keys, vcol, rows.schema[f].dataType)
        for f, (keys, vcol) in INTERVAL_FIELDS.items()
    }
    std[COLOR_FIELD] = _row_color_expr(rows.schema[COLOR_FIELD].dataType)
    std[ENERGY_FIELD] = _row_energy_expr(rows.schema[ENERGY_FIELD].dataType)
    return rows.withColumns(std)


def _details_agg(products: DataFrame) -> DataFrame:
    """A11: provenance map field -> value(stringified) -> sorted page_urls,
    serialized to compact JSON.

    Reference semantics (/root/reference/src/controller.py:104-168 +
    main.py:21-66): details covers the MOST/LEAST-frequent elections and
    every MERGE_BY_COMPLETING field; lengthiest-value fields (description,
    product_summary), id, and page_url are NOT recorded (the reference's own
    integration test pins details∩lengthiest == {}).  Collection cells are
    keyed PER ELEMENT (compute_values_to_url_mapping iterates the cell), not
    by the whole cell.  Stringification of nested entries uses to_json where
    the reference keys raw tuples — engine formatting, same information;
    booleans render 'True'/'False' like Python str."""

    def _field_entries(f: str, value: Column) -> Column:
        return F.struct(F.lit(f).alias("field"), value.alias("value"))

    def _elem_entries(f: str):
        # NB: a single-arg lambda — F.transform treats 2-arg lambdas as
        # (element, index)
        return lambda x: _field_entries(f, x)

    def _json_entries(f: str):
        return lambda x: _field_entries(f, F.to_json(x))

    arrs: list[Column] = []
    for f in MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT:
        arrs.append(F.array(_field_entries(f, F.col(f).cast("string"))))
    for f in MERGE_BY_COMPLETING_ARRAYS:
        arrs.append(
            F.transform(
                F.coalesce(F.col(f), F.array().cast("array<string>")),
                _elem_entries(f),
            )
        )
    arrs.append(
        F.array(_field_entries("eco_friendly", F.initcap(F.col("eco_friendly").cast("string"))))
    )
    arrs.append(
        F.array(_field_entries("manufacturing_year", F.col("manufacturing_year").cast("string")))
    )
    for f in _NESTED_FIELDS:
        arrs.append(
            F.transform(
                F.coalesce(F.col(f), F.array().cast(products.schema[f].dataType)),
                _json_entries(f),
            )
        )
    entries = products.select(
        IDENTIFIER,
        PAGE_URL,
        F.explode(F.flatten(F.array(*arrs))).alias("e"),
    ).select(
        IDENTIFIER, PAGE_URL, F.col("e.field").alias("field"), F.col("e.value").alias("value")
    ).where(F.col("value").isNotNull())
    per_value = entries.groupBy(IDENTIFIER, "field", "value").agg(
        F.array_sort(F.collect_set(PAGE_URL)).alias("urls")
    )
    per_field = per_value.groupBy(IDENTIFIER, "field").agg(
        # struct(value, urls) is orderable (string + array<string>), so the
        # map's entry order — and hence to_json key order — is deterministic
        F.map_from_entries(F.sort_array(F.collect_list(F.struct("value", "urls")))).alias("vmap")
    )
    # maps are not orderable in Spark, so the outer field->vmap level is
    # assembled from sorted '"field":{...}' JSON fragments instead of
    # sort_array over maps
    fragments = per_field.select(
        IDENTIFIER,
        F.concat(F.lit('"'), F.col("field"), F.lit('":'), F.to_json("vmap")).alias("_frag"),
    )
    return fragments.groupBy(IDENTIFIER).agg(
        F.concat(
            F.lit("{"), F.concat_ws(",", F.array_sort(F.collect_list("_frag"))), F.lit("}")
        ).alias("details")
    )


def consolidate_products(products: DataFrame) -> DataFrame:
    """A12: one enriched canonical record per mergeable identifier group;
    singleton / invalid-identifier rows pass through standardized
    (/root/reference/src/main.py:76-97)."""
    # lazy checkpoints: meta feeds the frequencies, the mergeable side and
    # the passthrough side, and mergeable feeds the main aggregate and the
    # details aggregate — without them each consumer re-executes the scan,
    # the group-size join and the five frequency joins from scratch
    meta = attach_group_meta(products).localCheckpoint(eager=False)
    mergeable = _with_frequencies(
        meta.where(F.col("is_mergeable")), meta
    ).localCheckpoint(eager=False)
    passthrough = meta.where(~F.col("is_mergeable"))

    # --- scalar elections + completing, one hash aggregate ---------------
    # pinned null rule: elections ignore null values — a null only survives
    # when every member is null ("maximizing the available information",
    # /root/reference/README.md:4); the leading not-null/is-null flag makes
    # max_by and min_by treat nulls symmetrically
    aggs: list[Column] = [F.min("id").alias("id"), F.max("group_size").alias("group_size")]
    for f in MERGE_BY_MOST_FREQUENT:
        aggs.append(
            F.max_by(
                f,
                F.struct(F.col(f).isNotNull().cast("int"), F.col(f"freq_{f}"), -F.col("id")),
            ).alias(f)
        )
    for f in MERGE_BY_LEAST_FREQUENT:
        aggs.append(
            F.min_by(
                f,
                F.struct(F.col(f).isNull().cast("int"), F.col(f"freq_{f}"), F.col("id")),
            ).alias(f)
        )
    for f in MERGE_BY_LENGTHIEST_VALUE:
        aggs.append(
            F.max_by(f, F.struct(F.length(F.coalesce(f, F.lit(""))), -F.col("id"))).alias(f)
        )
    for f in MERGE_BY_COMPLETING_ARRAYS:
        aggs.append(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(F.coalesce(f, F.array()))))
            ).alias(f)
        )
    aggs.append(F.array_sort(F.collect_set("eco_friendly")).alias("eco_friendly"))
    aggs.append(F.array_sort(F.collect_set("manufacturing_year")).alias("manufacturing_year"))
    aggs.append(
        F.array_sort(F.collect_set(PAGE_URL)).alias("source_urls")
    )
    # the group's rows in id order, with the raw nested arrays that are
    # standardized below exactly like a passthrough row's
    aggs.append(
        F.sort_array(F.collect_list(F.struct("id", PAGE_URL, *_NESTED_FIELDS))).alias("_rows")
    )
    merged = mergeable.groupBy(IDENTIFIER).agg(*aggs)
    # J3: first (by id) url containing the elected root_domain
    # F.get is null-safe on the empty-match case — mirrors the reference's
    # next(..., None) fallback (/root/reference/src/controller.py:265)
    merged = merged.withColumn(
        PAGE_URL,
        F.get(
            F.filter(
                F.col("_rows"),
                lambda s: F.instr(s[PAGE_URL], F.coalesce(F.col("root_domain"), F.lit(""))) > 0,
            ),
            F.lit(0),
        )[PAGE_URL],
    )
    # each nested field: the members' arrays concatenated in (id, position)
    # order, a null array read as empty
    merged = merged.withColumns({
        f: F.flatten(F.transform(
            "_rows", lambda r: F.coalesce(r[f], F.array().cast(products.schema[f].dataType))
        ))
        for f in _NESTED_FIELDS
    }).drop("_rows")
    merged = merged.join(_details_agg(mergeable), IDENTIFIER, "left").withColumn(
        # a mergeable group whose detail-eligible fields are ALL null yields
        # no fragment row; the reference still serializes details as '{}'
        # on every row (main.py:21-66) — never null
        "details", F.coalesce("details", F.lit("{}"))
    )

    pt = passthrough.select(
        IDENTIFIER, "id", F.lit(1).alias("group_size"),
        *_SCALAR_ELECTED,
        *MERGE_BY_COMPLETING_ARRAYS,
        F.when(F.col("eco_friendly").isNotNull(), F.array("eco_friendly"))
        .otherwise(F.array().cast("array<boolean>")).alias("eco_friendly"),
        F.when(F.col("manufacturing_year").isNotNull(), F.array("manufacturing_year"))
        .otherwise(F.array().cast("array<int>")).alias("manufacturing_year"),
        F.array(PAGE_URL).alias("source_urls"),
        F.col(PAGE_URL),
        *_NESTED_FIELDS,
        # the reference initializes details on EVERY row and serializes empty
        # provenance as json.dumps({}) (/root/reference/src/controller.py:652-655)
        F.lit("{}").alias("details"),
    )
    cols = pt.columns
    rows = merged.withColumn("group_size", F.col("group_size").cast("int")) \
                 .select(*cols).unionByName(pt)
    # the reference standardizes EVERY output row
    # (/root/reference/src/controller.py:505-526): one set of per-row
    # expressions serves merged groups and passthrough rows alike, with no
    # exchange
    return _standardize_nested(rows)
