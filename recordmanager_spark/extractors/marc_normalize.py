"""MARC driver normalize(): Koha/Alma item-to-holdings rewrite.

Behavioral spec (reference, NOT code): Record/Marc.php:1368-1474 —
- 952 item fields are grouped by (branch, c, h, o, 8); each distinct key
  becomes ONE holdings 952 field with subfields b/c/h/o/8 (location
  always re-emitted as $b regardless of the branch source subfield) plus
  $9=1 when ANY member item of the group is available
- availability: Alma = item status $1 == 1; Koha = none of $0 (withdrawn)
  / $1 (lost) / $4 (damaged) / $q (due date) set AND not-for-loan $7 in
  {0, 1} (Marc.php:1417-1440)
- Koha kohaUseHomeBranch switches the branch source $b → $a
- group key order: first occurrence; rewritten 952s are appended after
  the remaining fields (the reference deletes + re-adds)
- Koha: when 001 is missing/empty, it is materialized from 999$c
  (Marc.php:1459-1466)
- Alma: 090$a = "(Alma)<001>" is appended (Marc.php:1469-1473).

Pure JVM array expressions over the parsed MARC struct (no Python UDF):
per-record field arrays are small (tens of fields), so every step is an
in-row higher-order function with zero shuffles. Higher-order functions
are ``CodegenFallback`` in Spark 4.1, so these steps are evaluated
interpreted (generated code calls their ``eval``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .marc import control_value, get_field_subfields
from recordmanager_spark.sparkcompat import try_element_at

_KEY_CODES = ("c", "h", "o", "8")


def _sub(field: Column, code: str) -> Column:
    """First value of `code` in one field ('' if absent)."""
    vals = F.filter(
        F.coalesce(field["subfields"], F.array()), lambda s: s["code"] == code
    )
    return F.coalesce(try_element_at(vals, 1)["value"], F.lit(""))


def _field_struct(tag, ind1, ind2, value, subfields) -> Column:
    return F.struct(
        tag.alias("tag") if isinstance(tag, Column) else F.lit(tag).alias("tag"),
        F.lit(ind1).cast("string").alias("ind1"),
        F.lit(ind2).cast("string").alias("ind2"),
        (value if isinstance(value, Column) else F.lit(value)).cast("string").alias("value"),
        subfields.alias("subfields"),
    )


def _sf(code: Column | str, value: Column | str) -> Column:
    return F.struct(
        (code if isinstance(code, Column) else F.lit(code)).alias("code"),
        (value if isinstance(value, Column) else F.lit(value)).cast("string").alias("value"),
    )


def _available(field: Column, alma: bool) -> Column:
    if alma:
        return F.trim(_sub(field, "1")).cast("double") == 1.0
    blocked = (
        (_sub(field, "0") != "")
        | (_sub(field, "1") != "")
        | (_sub(field, "4") != "")
        | (_sub(field, "q") != "")
    )
    status = _sub(field, "7")
    return ~blocked & status.isin("0", "1")


def normalize_marc(
    marc: Column,
    koha: bool = False,
    alma: bool = False,
    koha_use_home_branch: bool = False,
) -> Column:
    """Return the normalized MARC struct column.

    Mirrors driver ``normalize()`` with the kohaNormalization /
    almaNormalization / kohaUseHomeBranch driver params as arguments.
    """
    if not (koha or alma):
        return marc
    branch_code = "a" if (koha and koha_use_home_branch) else "b"

    f952 = F.filter(marc["fields"], lambda f: f["tag"] == "952")

    def key_of(f: Column) -> Column:
        return F.concat_ws(
            "//", _sub(f, branch_code), *[_sub(f, c) for c in _KEY_CODES]
        )

    keys = F.transform(f952, key_of)
    # first-occurrence positions of each distinct key (PHP assoc order).
    # Guard the empty case: sequence(0, -1) counts DOWN in Spark.
    positions = F.when(F.size(keys) > 0, F.sequence(F.lit(0), F.size(keys) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    uniq_pos = F.filter(
        positions,
        lambda i: ~F.array_contains(F.slice(keys, 1, i), try_element_at(keys, i + 1)),
    )

    def rebuild(i: Column) -> Column:
        f = try_element_at(f952, i + 1)
        key = try_element_at(keys, i + 1)
        any_avail = F.exists(
            F.filter(f952, lambda g: key_of(g) == key),
            lambda g: _available(g, alma),
        )
        subs = F.concat(
            F.array(_sf("b", _sub(f, branch_code))),
            F.filter(
                F.array(*[_sf(c, _sub(f, c)) for c in _KEY_CODES]),
                lambda s: s["value"] != "",
            ),
            F.when(any_avail, F.array(_sf("9", "1"))).otherwise(
                F.array().cast("array<struct<code:string,value:string>>")
            ),
        )
        return _field_struct("952", " ", " ", None, subs)

    new_952 = F.transform(uniq_pos, rebuild)
    fields = F.concat(
        F.filter(marc["fields"], lambda f: f["tag"] != "952"), new_952
    )

    if koha:
        # 001 from 999$c when missing/empty
        has_001 = F.exists(
            F.filter(F.coalesce(fields, F.array()), lambda f: f["tag"] == "001"),
            lambda f: F.coalesce(f["value"], F.lit("")) != "",
        )
        koha_id = F.trim(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.filter(fields, lambda f: f["tag"] == "999"),
                        lambda f: F.transform(
                            F.filter(
                                F.coalesce(f["subfields"], F.array()),
                                lambda s: s["code"] == "c",
                            ),
                            lambda s: F.coalesce(s["value"], F.lit("")),
                        ),
                    )
                ),
                " ",
            )
        )
        empty_subs = F.lit(None).cast("array<struct<code:string,value:string>>")
        fields = F.when(
            ~has_001 & (koha_id != ""),
            F.concat(
                F.filter(fields, lambda f: f["tag"] != "001"),
                F.array(_field_struct("001", None, None, koha_id, empty_subs)),
            ),
        ).otherwise(fields)

    if alma:
        alma_id = F.concat(F.lit("(Alma)"), control_value(marc, "001"))
        fields = F.concat(
            fields,
            F.array(_field_struct("090", " ", " ", None, F.array(_sf("a", alma_id)))),
        )

    return F.struct(marc["leader"].alias("leader"), fields.alias("fields"))


def holdings_summary(marc: Column) -> Column:
    """(branch, callnumber, available) structs from normalized 952 fields —
    the projection SolrUpdater feeds the building/holdings facets from."""
    f952 = F.filter(marc["fields"], lambda f: f["tag"] == "952")
    return F.transform(
        f952,
        lambda f: F.struct(
            _sub(f, "b").alias("branch"),
            _sub(f, "o").alias("callnumber"),
            (_sub(f, "9") == "1").alias("available"),
        ),
    )
