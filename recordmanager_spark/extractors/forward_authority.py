"""Forward authority extractor — film-agent authority records.

Behavioral spec (reference, NOT code): Record/ForwardAuthority.php:47-336 —
- the record lives under the envelope's FIRST child element ("main
  element", ForwardAuthority.php:331-336); all paths below are relative
  to it
- id = AgentIdentifier IDTypeName '_' IDValue; record_type = IDTypeName
- heading: CAgentName/PersonName else CAgentName/CorporateName; use_for
  is just [heading] (ForwardAuthority.php:231-241,321-324)
- birth/death date+place from AgentDate entries typed by
  AgentDateEventType 51 (birth) / 52 (death); year extracted
  (ForwardAuthority.php:196-214)
- related_place from AgentPlace/LocationName
- occupation: Affiliation ': ' ProfessionalPosition combined label
  (ForwardAuthority.php:258-278)
- allfields = agency name (RecordSource/SourceName joined with '. ',
  else the source id) + biographical note + heading + use_for.

One Python pass picks the main element (malformed input yields NULL
fields), then one JVM from_xml parse feeds every column.
"""

from __future__ import annotations

import xml.etree.ElementTree as _ET

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at

# The main element (the envelope's first child) is serialized once in
# Python (the scoping from_xml cannot express) and parsed once JVM-side;
# every field is then a struct access.

_FA_STRUCT_SCHEMA = (
    "AgentIdentifier array<struct<IDTypeName array<string>, "
    "IDValue array<string>>>, "
    "CAgentName array<struct<PersonName array<string>, "
    "CorporateName array<string>>>, "
    "AgentDate array<struct<AgentDateEventType array<string>, "
    "DateText array<string>, LocationName array<string>>>, "
    "AgentPlace array<struct<LocationName array<string>>>, "
    "ProfessionalAffiliation array<struct<Affiliation array<string>, "
    "ProfessionalPosition array<string>>>, "
    "RecordSource array<struct<SourceName array<string>>>, "
    "BiographicalNote array<string>, "
    "_corrupt_record string"
)


@pandas_udf(StringType())
def _fa_main_xml(xml: pd.Series) -> pd.Series:
    """Serialized first child of the document root; None for malformed
    input, a childless sentinel for well-formed envelopes without a main
    element."""

    def one(s):
        if not s:
            return None
        try:
            root = _ET.fromstring(s)
        except _ET.ParseError:
            return None
        kids = list(root)
        if not kids:
            return "<__nomain/>"
        return _ET.tostring(kids[0], encoding="unicode")

    return xml.map(one)


def to_solr_columns(
    df: DataFrame, xml_col: str = "xml", source: str | None = None
) -> DataFrame:
    df = df.withColumn(
        "__fa_parsed",
        F.from_xml(
            _strip_ns_prefixes(_fa_main_xml(F.col(xml_col))),
            _FA_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__fa_parsed")
    es = F.array().cast("array<string>")

    def flat1(outer: str, inner: str) -> Column:
        # first text across <outer><inner> pairs, '' when absent (also
        # for malformed input)
        vals = F.flatten(
            F.transform(p[outer], lambda c: F.coalesce(c[inner], es))
        )
        return F.coalesce(try_element_at(vals, 1), F.lit(""))

    def agent_date(event_type: int, part: str) -> Column:
        # DateText/LocationName of the first AgentDate with the event type
        matches = F.filter(
            p["AgentDate"],
            lambda c: F.array_contains(
                F.transform(
                    F.coalesce(c["AgentDateEventType"], es),
                    lambda v: F.trim(v),
                ),
                str(event_type),
            ),
        )
        first = try_element_at(matches, 1)
        return F.coalesce(try_element_at(first[part], 1), F.lit(""))

    person = flat1("CAgentName", "PersonName")
    corporate = flat1("CAgentName", "CorporateName")
    h = F.when(person != "", person).otherwise(corporate)
    id_type = F.trim(flat1("AgentIdentifier", "IDTypeName"))

    names = F.filter(
        F.transform(
            F.flatten(
                F.transform(
                    p["RecordSource"], lambda c: F.coalesce(c["SourceName"], es)
                )
            ),
            lambda v: F.trim(v),
        ),
        lambda v: v != "",
    )
    joined = F.array_join(names, ". ")
    agency = F.when(
        joined.isNotNull() & (joined != ""), joined
    ).otherwise(F.lit(source or ""))

    affiliation = flat1("ProfessionalAffiliation", "Affiliation")
    position = flat1("ProfessionalAffiliation", "ProfessionalPosition")
    has_any = (
        F.size(
            F.coalesce(
                p["ProfessionalAffiliation"],
                F.array().cast(
                    "array<struct<Affiliation:array<string>,"
                    "ProfessionalPosition:array<string>>>"
                ),
            )
        )
        > 0
    )
    occ_label = F.when(
        (affiliation != "") & (position != ""),
        F.concat(affiliation, F.lit(": "), position),
    ).otherwise(F.when(position != "", position).otherwise(affiliation))

    bio = F.coalesce(try_element_at(p["BiographicalNote"], 1), F.lit(""))
    cols = {
        "id": F.concat(
            id_type, F.lit("_"), F.trim(flat1("AgentIdentifier", "IDValue"))
        ),
        "record_format": F.lit("forwardAuthority"),
        "record_type": id_type,
        "heading": h,
        "use_for": F.array(h),
        "birth_date": K.extract_year(agent_date(51, "DateText")),
        "death_date": K.extract_year(agent_date(52, "DateText")),
        "birth_place": agent_date(51, "LocationName"),
        "death_place": agent_date(52, "LocationName"),
        "related_place": F.filter(
            F.array(flat1("AgentPlace", "LocationName")), lambda v: v != ""
        ),
        "field_of_activity": F.array().cast("array<string>"),
        "occupation": F.when(has_any, F.array(occ_label)).otherwise(
            F.array().cast("array<string>")
        ),
        "allfields": F.filter(
            F.concat(F.array(agency, bio, h), F.array(h)), lambda v: v != ""
        ),
    }
    if source is not None:
        cols["source_str_mv"] = F.lit(source)
        cols["datasource_str_mv"] = F.lit(source)
    return df.withColumns(cols).drop("__fa_parsed")

