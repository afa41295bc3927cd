"""EAC-CPF (authority person/corporate) extractor.

Behavioral spec (reference, NOT code): Record/Eaccpf.php:70-383 —
- heading from the identity's direct nameEntry parts: the LAST
  localType=TONI1 part (surname) + the LAST TONI4 part (forename),
  falling back to the first use_for heading
- use_for = one "TONI1 TONI4" heading per nameEntryParallel (parts of
  its first nameEntry)
- birth/death dates from existDates dates with the RDA birth/death
  localType URIs (first standardDate with an extractable year)
- birth/death places from places typed P50119/P50118 (first placeEntry);
  related_place = the first placeEntry of every OTHER place
- field_of_activity = functions typed TJ37, descriptiveNote paragraphs
  joined with '. '
- language = control/languageDeclaration/language @languageCode
- source = maintenance agency name
- allfields = agency name + biogHist paragraphs + heading + use_for.

One ``from_xml`` parse per record feeds every column.
Replayed against the reference's eaccpf1.xml golden fixture in
tests/test_golden_authority.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at

_RDA_BIRTH_DATE = "http://rdaregistry.info/Elements/a/P50121"
_RDA_DEATH_DATE = "http://rdaregistry.info/Elements/a/P50120"
_RDA_BIRTH_PLACE = "http://rdaregistry.info/Elements/a/P50119"
_RDA_DEATH_PLACE = "http://rdaregistry.info/Elements/a/P50118"


def _name_pair(name1: Column, name2: Column) -> Column:
    """trim("$name1 $name2") with either side possibly empty."""
    return F.trim(
        F.concat_ws(
            " ",
            F.nullif(F.trim(name1), F.lit("")),
            F.nullif(F.trim(name2), F.lit("")),
        )
    )


# One JVM parse; the corrupt-record marker doubles as the validity gate;
# struct access mirrors the reference's direct chains
# ($doc->cpfDescription->identity->nameEntry).

_PARTS = "array<struct<_localType:string,_VALUE:string>>"
_NE = f"array<struct<part:{_PARTS}>>"
_EACCPF_STRUCT_SCHEMA = (
    "control array<struct<"
    "maintenanceAgency array<struct<agencyName:array<string>>>, "
    "languageDeclaration array<struct<language:array<struct<"
    "_languageCode:string>>>>"
    ">>, "
    "cpfDescription array<struct<"
    "identity array<struct<"
    "entityType array<string>, "
    f"nameEntry {_NE}, "
    f"nameEntryParallel array<struct<nameEntry:{_NE}>>"
    ">>, "
    "description array<struct<"
    "existDates array<struct<dateSet:array<struct<date:array<struct<"
    "_localType:string,_standardDate:string,_VALUE:string>>>>>>, "
    "places array<struct<place:array<struct<_localType:string,"
    "placeEntry:array<string>>>>>, "
    "functions array<struct<function:array<struct<_localType:string,"
    "descriptiveNote:array<struct<p:array<string>>>>>>>, "
    "occupations array<struct<occupation:array<struct<"
    "term:array<string>>>>>, "
    "occupation array<struct<term:array<string>>>, "
    "biogHist array<struct<p:array<string>>>"
    ">>"
    ">>, "
    "_corrupt_record string"
)


def _empty(typ: str) -> Column:
    return F.expr(f"cast(array() as {typ})")


def _seg(arr: Column, name: str, typ: str) -> Column:
    # Null-safe on the outer array: flatten(transform(NULL,…)) is NULL and
    # would null-propagate through downstream F.concat chains.
    return F.coalesce(
        F.flatten(F.transform(arr, lambda c: F.coalesce(c[name], _empty(typ)))),
        _empty(typ),
    )


def _last_typed_part(parts: Column, toni: str) -> Column:
    """Last part value with the given localType, '' when absent."""
    vals = F.transform(
        F.filter(parts, lambda pt: pt["_localType"].eqNullSafe(toni)),
        lambda pt: F.coalesce(pt["_VALUE"], F.lit("")),
    )
    return F.coalesce(try_element_at(vals, -1), F.lit(""))


def to_solr_columns(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    df = df.withColumn(
        "__ec_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _EACCPF_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__ec_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()
    es = F.array().cast("array<string>")

    def arr_out(col: Column) -> Column:
        return F.when(ok, F.coalesce(col, es))

    def first(col: Column) -> Column:
        return F.coalesce(try_element_at(col, 1), F.lit(""))

    control = p["control"]
    identity = _seg(
        p["cpfDescription"],
        "identity",
        f"array<struct<entityType:array<string>,nameEntry:{_NE},"
        f"nameEntryParallel:array<struct<nameEntry:{_NE}>>>>",
    )
    desc = _seg(
        p["cpfDescription"],
        "description",
        "array<struct<"
        "existDates:array<struct<dateSet:array<struct<date:array<struct<"
        "_localType:string,_standardDate:string,_VALUE:string>>>>>>,"
        "places:array<struct<place:array<struct<_localType:string,"
        "placeEntry:array<string>>>>>,"
        "functions:array<struct<function:array<struct<_localType:string,"
        "descriptiveNote:array<struct<p:array<string>>>>>>>,"
        "occupations:array<struct<occupation:array<struct<"
        "term:array<string>>>>>,"
        "occupation:array<struct<term:array<string>>>,"
        "biogHist:array<struct<p:array<string>>>"
        ">>",
    )
    direct_parts = _seg(_seg(identity, "nameEntry", _NE), "part", _PARTS)
    heading_names = _name_pair(
        _last_typed_part(direct_parts, "TONI1"),
        _last_typed_part(direct_parts, "TONI4"),
    )
    # one "TONI1 TONI4" heading per nameEntryParallel, from its FIRST
    # nameEntry
    neps = _seg(
        identity, "nameEntryParallel", f"array<struct<nameEntry:{_NE}>>"
    )

    def parallel_heading(nep: Column) -> Column:
        parts = F.coalesce(
            try_element_at(nep["nameEntry"], 1)["part"], _empty(_PARTS)
        )
        return _name_pair(
            _last_typed_part(parts, "TONI1"), _last_typed_part(parts, "TONI4")
        )

    use_for = F.filter(
        F.coalesce(F.transform(neps, parallel_heading), es), lambda v: v != ""
    )
    heading = F.when(heading_names != "", heading_names).otherwise(
        F.coalesce(try_element_at(use_for, 1), F.lit(""))
    )

    dates = _seg(
        _seg(
            _seg(
                desc,
                "existDates",
                "array<struct<dateSet:array<struct<date:array<struct<"
                "_localType:string,_standardDate:string,_VALUE:string>>>>>>",
            ),
            "dateSet",
            "array<struct<date:array<struct<_localType:string,"
            "_standardDate:string,_VALUE:string>>>>",
        ),
        "date",
        "array<struct<_localType:string,_standardDate:string,_VALUE:string>>",
    )

    def typed_year(localtype: str) -> Column:
        years = F.filter(
            F.transform(
                F.filter(
                    dates, lambda d: d["_localType"].eqNullSafe(localtype)
                ),
                lambda d: F.regexp_extract(
                    F.coalesce(d["_standardDate"], F.lit("")), "(\\d{4})", 1
                ),
            ),
            lambda y: y != "",
        )
        return F.coalesce(try_element_at(years, 1), F.lit(""))

    places = _seg(
        _seg(
            desc,
            "places",
            "array<struct<place:array<struct<_localType:string,"
            "placeEntry:array<string>>>>>",
        ),
        "place",
        "array<struct<_localType:string,placeEntry:array<string>>>",
    )

    def first_entry_of(places_col: Column) -> Column:
        return F.filter(
            F.transform(
                places_col,
                lambda pl: try_element_at(
                    F.coalesce(pl["placeEntry"], es), 1
                ),
            ),
            lambda v: v.isNotNull(),
        )

    def typed_place(localtype: str) -> Column:
        return first(
            first_entry_of(
                F.filter(
                    places, lambda pl: pl["_localType"].eqNullSafe(localtype)
                )
            )
        )

    related = first_entry_of(
        F.filter(
            places,
            lambda pl: ~F.coalesce(pl["_localType"], F.lit("")).isin(
                _RDA_BIRTH_PLACE, _RDA_DEATH_PLACE
            ),
        )
    )
    functions = _seg(
        _seg(
            desc,
            "functions",
            "array<struct<function:array<struct<_localType:string,"
            "descriptiveNote:array<struct<p:array<string>>>>>>>",
        ),
        "function",
        "array<struct<_localType:string,"
        "descriptiveNote:array<struct<p:array<string>>>>>",
    )
    field_of_activity = F.filter(
        F.coalesce(
            F.transform(
                F.filter(
                    functions, lambda fn: fn["_localType"].eqNullSafe("TJ37")
                ),
                lambda fn: F.array_join(
                    F.flatten(
                        F.transform(
                            F.coalesce(
                                fn["descriptiveNote"],
                                _empty("array<struct<p:array<string>>>"),
                            ),
                            lambda d: F.coalesce(d["p"], es),
                        )
                    ),
                    ". ",
                ),
            ),
            es,
        ),
        lambda v: v.isNotNull() & (v != ""),
    )
    # occupation terms from occupations-wrapped AND bare occupation
    # elements under description
    occ_nodes = F.concat(
        _seg(
            _seg(
                desc,
                "occupations",
                "array<struct<occupation:array<struct<"
                "term:array<string>>>>>",
            ),
            "occupation",
            "array<struct<term:array<string>>>",
        ),
        _seg(desc, "occupation", "array<struct<term:array<string>>>"),
    )
    occupation = F.filter(
        F.transform(
            occ_nodes,
            lambda o: F.trim(first(F.coalesce(o["term"], es))),
        ),
        lambda v: v != "",
    )
    agency = F.trim(
        first(
            _seg(
                _seg(
                    control,
                    "maintenanceAgency",
                    "array<struct<agencyName:array<string>>>",
                ),
                "agencyName",
                "array<string>",
            )
        )
    )
    biog = F.filter(
        F.transform(
            _seg(
                _seg(desc, "biogHist", "array<struct<p:array<string>>>"),
                "p",
                "array<string>",
            ),
            lambda v: F.trim(v),
        ),
        lambda v: v != "",
    )
    langs = F.filter(
        F.transform(
            _seg(
                _seg(
                    control,
                    "languageDeclaration",
                    "array<struct<language:array<struct<"
                    "_languageCode:string>>>>",
                ),
                "language",
                "array<struct<_languageCode:string>>",
            ),
            lambda lg: lg["_languageCode"],
        ),
        lambda v: v.isNotNull(),
    )
    return df.withColumns(
        {
            "record_format": F.lit("eaccpf"),
            "record_type": F.coalesce(
                F.nullif(
                    F.trim(first(_seg(identity, "entityType", "array<string>"))),
                    F.lit(""),
                ),
                F.lit("undefined"),
            ),
            "heading": heading,
            "use_for": use_for,
            "birth_date": typed_year(_RDA_BIRTH_DATE),
            "death_date": typed_year(_RDA_DEATH_DATE),
            "birth_place": typed_place(_RDA_BIRTH_PLACE),
            "death_place": typed_place(_RDA_DEATH_PLACE),
            "related_place": arr_out(
                F.filter(
                    F.transform(related, lambda v: F.trim(v)),
                    lambda v: v != "",
                )
            ),
            "occupation": arr_out(occupation),
            "field_of_activity": field_of_activity,
            "language": F.trim(first(langs)),
            "source": agency,
            "agency": agency,
            # getAllFields (Eaccpf.php:113-130): agency + biogHist
            # paragraphs + heading + use_for, in that order
            "allfields": F.when(
                ok,
                F.filter(
                    F.concat(
                        F.array(agency),
                        F.coalesce(biog, es),
                        F.array(heading),
                        use_for,
                    ),
                    lambda v: v != "",
                ),
            ),
        }
    ).drop("__ec_parsed")

