"""sources-* / state / solr-optimize command family
(Command/Sources/AddSetting|RemoveSetting|ShowConfig|Search.php,
Command/State/*.php, Command/Solr/Optimize.php): comment-preserving
ini edits, the watermark state file, and the optimize verb."""

from __future__ import annotations

import json

from recordmanager_spark.cli import main
from recordmanager_spark.ini_edit import (
    add_setting,
    remove_setting,
    search_sources,
    show_config,
)

INI = """\
; top comment
[alpha]
format = marc
building[] = A1
building[] = A2
; trailing comment in alpha

[beta]
format = dc
verbose = true
"""


def test_add_setting_appends_at_section_end_before_blanks():
    out = add_setting(INI, "newkey = v", sources=["alpha"])
    lines = out.splitlines()
    i = lines.index("newkey = v")
    # inserted after the last alpha content line, before the trailing
    # comment/blank run and the [beta] header
    assert lines[i - 1] == "building[] = A2"
    assert "[beta]" in lines[i + 1 :]
    # beta untouched
    assert out.count("newkey = v") == 1
    # comments all survive
    assert "; top comment" in out
    assert "; trailing comment in alpha" in out


def test_add_setting_array_value_joins_the_block():
    out = add_setting(INI, "building[] = A3", sources=["alpha"])
    lines = [ln for ln in out.splitlines() if ln.startswith("building")]
    assert lines == ["building[] = A1", "building[] = A2", "building[] = A3"]


def test_add_setting_identical_line_is_idempotent():
    # parse-equality, not text equality: quoting/spacing differences
    # still count as the same setting
    out = add_setting(INI, 'format = "marc"', sources=["alpha"])
    assert out.count("format") == INI.count("format")


def test_add_setting_all_sections_and_add_sources():
    out = add_setting(INI, "x = 1")
    assert out.count("x = 1") == 2  # every section
    out = add_setting(
        INI, "x = 1", sources=["alpha", "gamma"], add_sources=True
    )
    assert "[gamma]" in out
    assert out.index("[gamma]") < out.index("x = 1", out.index("[gamma]"))


def test_remove_setting_parse_equal_only_in_targeted_sections():
    out = remove_setting(INI, "format=dc", sources=["beta"])
    assert "format = dc" not in out
    assert "format = marc" in out  # alpha untouched
    out = remove_setting(INI, "building[] = A1")
    assert "A1" not in out and "A2" in out


def test_show_config_verbatim_section():
    out = show_config(INI, "alpha")
    assert out.startswith("[alpha]")
    assert "building[] = A2" in out
    assert "; trailing comment in alpha" in out
    assert "beta" not in out


def test_search_sources_normalized_and_regex():
    assert search_sources(INI, "format=marc") == ["alpha"]
    # booleans normalize to 1/0 (the reference's parse_ini_string view)
    assert search_sources(INI, "verbose=1") == ["beta"]
    assert search_sources(INI, "/^BUILDING/i") == ["alpha"]
    assert search_sources(INI, "format=") == ["alpha", "beta"]


def test_add_setting_boolean_spellings_are_parse_equal():
    # PHP's ini scanner folds unquoted true/on/yes -> "1" and
    # false/off/no/none -> "" before AddSetting compares, so
    # 'verbose = 1' is already present in beta and must be skipped
    out = add_setting(INI, "verbose = 1", sources=["beta"])
    assert out.count("verbose") == INI.count("verbose")
    out = add_setting(INI, "verbose = on", sources=["beta"])
    assert out.count("verbose") == INI.count("verbose")
    # quoted "true" is the literal string, NOT parse-equal -> inserted
    out = add_setting(INI, 'verbose = "true"', sources=["beta"])
    assert out.count("verbose") == INI.count("verbose") + 1


def test_parse_setting_line_boolean_normalization():
    from recordmanager_spark.ini_edit import parse_setting_line

    assert parse_setting_line("a = true") == ("a", "1")
    assert parse_setting_line("a = YES") == ("a", "1")
    assert parse_setting_line("a = off") == ("a", "")
    assert parse_setting_line("a = none") == ("a", "")
    # quoted literals keep their text (PHP quoted values bypass folding)
    assert parse_setting_line('a = "true"') == ("a", "true")


def test_search_sources_unterminated_delimiter_raises():
    import pytest

    with pytest.raises(ValueError):
        search_sources(INI, "/abc")
    # properly delimited still works
    assert search_sources(INI, "/format=marc/") == ["alpha"]


def test_parse_php_ini_strips_unquoted_inline_comments():
    from recordmanager_spark.config import _parse_php_ini

    ini = (
        "[s]\n"
        "a = b ; note\n"
        'q = "b ; kept"\n'
        "arr[] = v1 ; c1\n"
    )
    kv = _parse_php_ini(ini)["s"]
    assert kv["a"] == "b"
    assert kv["q"] == "b ; kept"
    assert kv["arr"] == ["v1"]
    # and search no longer sees comment text as value text
    assert search_sources(ini, "note") == []
    assert search_sources(ini, "a=b$") == ["s"]


def test_cli_sources_roundtrip(tmp_path, capsys):
    ini = tmp_path / "ds.ini"
    ini.write_text(INI)
    main(
        [
            "sources-add-setting", "--config", str(ini),
            "institution = NLF", "--source", "alpha", "--write",
        ]
    )
    assert "institution = NLF" in ini.read_text()
    main(["sources-show-config", "--config", str(ini), "alpha"])
    assert "institution = NLF" in capsys.readouterr().out
    main(
        [
            "sources-remove-setting", "--config", str(ini),
            "institution=NLF", "--write",
        ]
    )
    assert "institution" not in ini.read_text()
    main(["sources-search", "--config", str(ini), "format=", "--separator", "|"])
    assert capsys.readouterr().out.strip().endswith("alpha|beta")


def test_cli_state_timestamp_roundtrip(tmp_path, capsys):
    sf = str(tmp_path / "state.json")
    main(["get-last-solr-update-timestamp", "--state-file", sf])
    assert "not stored" in capsys.readouterr().out
    main(
        [
            "set-last-solr-update-timestamp", "--state-file", sf,
            "--timestamp", "2024-06-01T12:00:00",
        ]
    )
    capsys.readouterr()
    main(["get-last-solr-update-timestamp", "--state-file", sf])
    assert "2024-06-01 12:00:00Z" in capsys.readouterr().out
    # per-server keys are independent (SolrUpdater.php:1624)
    main(
        [
            "get-last-solr-update-timestamp", "--state-file", sf,
            "--date-per-server", "--update-url", "http://solr/a",
        ]
    )
    assert "not stored" in capsys.readouterr().out
    main(
        [
            "set-last-solr-update-timestamp", "--state-file", sf,
            "--clear",
        ]
    )
    capsys.readouterr()
    main(["get-last-solr-update-timestamp", "--state-file", sf])
    assert "not stored" in capsys.readouterr().out
    assert json.load(open(sf)) == {}


def test_cli_solr_optimize_file_sink(tmp_path, capsys):
    out = str(tmp_path / "batches")
    main(["solr-optimize", "--out", out])
    body = open(f"{out}/optimize.json").read()
    assert json.loads(body) == {"optimize": {}}


def test_parse_php_ini_mixed_forms_never_crash():
    """`k = a` then `k[] = b` (and map-after-scalar) used to crash the
    shared parser with AttributeError (r11 hypothesis finding); the
    permissive stance promotes/overrides instead."""
    from recordmanager_spark.config import _parse_php_ini

    kv = _parse_php_ini(
        "[s]\na = 0\na[] = 1\nb[] = x\nb[] = y\nc = 0\nc[sub] = m\n"
    )["s"]
    assert kv["a"] == ["0", "1"]  # scalar promoted, append lossless
    assert kv["b"] == ["x", "y"]
    assert kv["c"] == {"sub": "m"}  # map form wins over scalar


def test_cli_solr_delete_source_file_sink(tmp_path):
    """Command/Solr/Delete.php: one delete-by-query ('id:<source>.*')
    plus a commit, as command files."""
    out = str(tmp_path / "batches")
    main(["solr-delete-source", "libA", "--out", out])
    lines = open(f"{out}/delete-source.json").read().strip().splitlines()
    assert json.loads(lines[0]) == {"delete": {"query": "id:libA.*"}}
    assert json.loads(lines[1]) == {"commit": {}}


def test_cli_solr_delete_source_live_posts_delete_then_commit(monkeypatch):
    import recordmanager_spark.sinks.solr as SP

    calls = []

    def fake_transport(timeout=None):
        def post(url, payload, headers):
            calls.append((url, payload))
            return 200, "{}"
        return post

    monkeypatch.setattr(SP, "make_urllib_transport", fake_transport)
    main(["solr-delete-source", "libB", "--update-url", "http://s/update"])
    assert [json.loads(p) for _, p in calls] == [
        {"delete": {"query": "id:libB.*"}},
        {"commit": {}},
    ]
