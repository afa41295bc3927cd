"""Work-key synthesis + line-based MARC parser tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from recordmanager_spark.extractors import linemarc, marc


def _marc_json(leader, fields):
    return json.dumps({"leader": leader, "fields": fields})


WORK = _marc_json(
    "00000cam",
    [
        {"100": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Author, Ann"}, {"b": "II"}]}},
        {"700": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Second, Bob"}]}},
        # analytical (ind2=2): excluded from main authors
        {"700": {"ind1": "1", "ind2": "2", "subfields": [{"a": "Analytical, Carl"}]}},
        {
            "245": {
                "ind1": "1",
                "ind2": "4",
                "subfields": [{"a": "The Main Title"}, {"b": "a subtitle"}],
            }
        },
        {"130": {"ind1": "0", "ind2": " ", "subfields": [{"a": "Uniform Epic"}]}},
    ],
)


def _keys(spark, raw):
    df = spark.createDataFrame([(raw,)], "raw string").select(
        marc.parse_marc_in_json("raw").alias("m")
    )
    return df.select(marc.work_keys("m").alias("k")).collect()[0].k


def test_work_keys(spark):
    keys = _keys(spark, WORK)
    # uniform title keys alone
    assert "UT uniformepic" in keys
    # nonfiling ind2=4 strips 'The ' -> both stripped and original keyed
    at = [k for k in keys if k.startswith("AT ")]
    # 2 authors x 2 title variants (stripped + original)
    assert "AT authorannii maintitleasubtitle" in keys
    assert "AT secondbob maintitleasubtitle" in keys
    assert "AT authorannii themaintitleasubtitle" in keys
    # analytical author NOT crossed into main keys
    assert not any("analyticalcarl" in k for k in at)


def test_work_keys_empty_record(spark):
    assert _keys(spark, _marc_json("", [])) == []


LINE_MARC_DOLLAR = """LDR 00000cam a2200000 a 4500
001 12345
008 970101s1997    xxu           000 0 eng d
100 1_ $aWriter, Wendy$d1950-
245 10 $aSome title :$bwith subtitle /$cby Wendy.
650 _0 $aTesting.
"""

LINE_MARC_PIPE = """LDR 00000cam a2200000 a 4500
001 9876
245 10 |a Pipe title |b pipe sub
"""


def test_line_marc_dollar(spark):
    df = spark.createDataFrame([(LINE_MARC_DOLLAR,)], "raw string").select(
        linemarc.parse_line_based_marc("raw").alias("m")
    )
    out = marc.to_solr_columns(df, "m").collect()[0]
    assert out.id == "12345"
    assert out.title == "Some title : with subtitle"  # trailing / stripped
    assert out.title_short == "Some title"
    assert out.author == ["Writer, Wendy 1950-"]
    assert out.publish_year == "1997"
    assert out.topic == ["Testing"]  # subject chain strips trailing period


def test_line_marc_pipe_delimiter(spark):
    df = spark.createDataFrame([(LINE_MARC_PIPE,)], "raw string").select(
        linemarc.parse_line_based_marc("raw").alias("m")
    )
    out = marc.to_solr_columns(df, "m").collect()[0]
    assert out.id == "9876"
    assert out.title_short == "Pipe title"
    assert out.title_sub == "pipe sub"


def test_line_marc_parser_pure():
    leader, fields = linemarc.parse_line_marc(LINE_MARC_DOLLAR)
    assert len(leader) == 24
    tags = [f[0] for f in fields]
    assert tags == ["001", "008", "100", "245", "650"]
    f245 = fields[3]
    assert f245[1] == "1" and f245[2] == "0"
    assert ("a", "Some title :") in f245[4]
    assert linemarc.parse_line_marc("") is None
