"""Comment-preserving datasources.ini editing — the `sources` command
family.

Behavioral spec (reference, NOT code):
``Command/Sources/AddSetting.php`` / ``RemoveSetting.php`` /
``ShowConfig.php`` / ``Search.php`` + ``Command/Util/IniFileTrait.php``.
These are TEXT-level edits: the reference walks the raw file line by
line so comments, ordering, and formatting survive — a config file is a
reviewed artifact, round-tripping it through a parser would destroy its
diff history. Semantics mirrored exactly:

- a line "is" a section header when its comment-stripped form is
  ``[name]`` (IniFileTrait.php:getSectionFromLine);
- lines compare by PARSED equality (key + value after quote/comment
  stripping), not text equality — ``a = b`` matches ``a=b``;
- add: skip a section that already contains the identical setting; a
  section containing the same KEY with a different value gets the new
  line inserted right after the last same-key line (the end of an
  ``array[]`` block — AddSetting.php $arrayFound); otherwise the line
  is appended at the section end, BEFORE any trailing blank/comment
  lines (the $emptyLines buffer);
- remove: drop every line in a targeted section whose parsed form
  equals the setting;
- ``--add-sources``: sources requested but absent from the file are
  appended as new ``[name]`` sections holding the setting;
- search: matches a regexp against normalized ``setting=value`` lines
  of the PARSED config (booleans normalized to 0/1, array entries
  matched one by one) and returns the names of sources with >= 1 hit
  (Search.php:112-135);
- show: the verbatim lines of one source's section.
"""

from __future__ import annotations

import re


def _commentless(line: str) -> str:
    return line.split(";", 1)[0].strip()


def _section_of(line: str) -> str | None:
    c = _commentless(line)
    if len(c) > 2 and c.startswith("[") and c.endswith("]"):
        return c[1:-1]
    return None


# PHP's ini scanner (INI_SCANNER_NORMAL) folds UNQUOTED boolean
# literals to "1"/"" — `a = true` and `a = 1` are the same setting to
# AddSetting.php, and Search.php matches against the folded form.
_PHP_TRUE = frozenset(("true", "on", "yes"))
_PHP_FALSE = frozenset(("false", "off", "no", "none", "null"))


def parse_setting_line(line: str) -> tuple[str, str] | None:
    """(key, value) of one ini line, or None when it parses to nothing
    (blank/comment/section). Quotes stripped, comments dropped, and
    unquoted boolean literals normalized to "1"/"" — the single-line
    analogue of the shared PHP-ini dialect, so two spellings of the
    same setting compare equal the way parse_ini_string does (quoted
    `"true"` stays the literal string, exactly as in PHP)."""
    c = _commentless(line)
    if not c or _section_of(line) is not None or "=" not in c:
        return None
    key, _, val = c.partition("=")
    key, val = key.strip(), val.strip()
    if not key:
        return None
    if len(val) >= 2 and val[0] == val[-1] and val[0] in "\"'":
        val = val[1:-1]
    elif val.lower() in _PHP_TRUE:
        val = "1"
    elif val.lower() in _PHP_FALSE:
        val = ""
    return key, val


def add_setting(
    text: str,
    setting: str,
    sources: list[str] | None = None,
    add_sources: bool = False,
) -> str:
    """AddSetting.php: insert ``setting`` into every targeted section
    (all sections when ``sources`` is None), comment-preserving."""
    analyzed = parse_setting_line(setting)
    if analyzed is None:
        raise ValueError(f"the setting to add is not valid: {setting!r}")
    if add_sources and not sources:
        raise ValueError("add_sources cannot be used without sources")
    lines = text.splitlines()
    out: list[str] = []
    empty: list[str] = []
    current: str | None = None
    skip = False
    array_found = False
    found: list[str] = []

    def targeted() -> bool:
        return (
            current is not None
            and not skip
            and (not sources or current in sources)
        )

    for line in lines:
        c = _commentless(line)
        if c == "":
            empty.append(line)
            continue
        sec = _section_of(line)
        if sec is not None:
            if targeted():
                out.append(setting)
            out.extend(empty)
            empty = []
            current, skip, array_found = sec, False, False
            found.append(sec)
            out.append(line)
            continue
        if not targeted():
            out.extend(empty)
            empty = []
            out.append(line)
            continue
        parsed = parse_setting_line(line)
        if parsed == analyzed:
            skip = True  # identical setting already present
        if not skip and parsed is not None:
            if parsed[0] == analyzed[0]:
                array_found = True
            elif array_found:
                # different key after a same-key run: close the array
                # block by inserting the new value here
                out.append(setting)
                skip = True
        out.extend(empty)
        empty = []
        out.append(line)
    if targeted():
        out.append(setting)
    out.extend(empty)
    if add_sources:
        for name in [s for s in (sources or []) if s not in found]:
            out.extend(["", f"[{name}]", setting])
    return "\n".join(out) + "\n"


def remove_setting(
    text: str, setting: str, sources: list[str] | None = None
) -> str:
    """RemoveSetting.php: drop lines parse-equal to ``setting`` from
    every targeted section."""
    analyzed = parse_setting_line(setting)
    if analyzed is None:
        raise ValueError(f"the setting to remove is not valid: {setting!r}")
    out: list[str] = []
    current: str | None = None
    for line in text.splitlines():
        sec = _section_of(line)
        if sec is not None:
            current = sec
            out.append(line)
            continue
        in_target = current is not None and (
            not sources or current in sources
        )
        if in_target and parse_setting_line(line) == analyzed:
            continue
        out.append(line)
    return "\n".join(out) + "\n"


def _is_comment(line: str) -> bool:
    return line.strip().startswith(";")


# --highlight preview markers (the reference renders <fg=red> console
# tags; ANSI is the plain-terminal equivalent)
_RED = "\x1b[31m"
_RESET = "\x1b[0m"


def delete_sources(
    text: str,
    sources: list[str],
    keep_comments: str = "trailing",
    highlight: bool = False,
) -> str:
    """Sources/Delete.php:105-200: remove whole ``[source]`` sections
    from datasources.ini, comment-preserving for everything kept.

    ``keep_comments``:

    - ``"all"`` — the section's trailing comment run is reattached to
      the head of the NEXT section (it usually describes that section),
      and its leading comments (the trailing comment run of the
      PREVIOUS section) are kept;
    - ``"trailing"`` (default) — trailing comments reattach forward,
      leading comments are removed from the previous section;
    - ``"leading"`` — leading comments kept, trailing comments die with
      the section;
    - ``"none"`` — both die with the section.

    Reattachment mirrors the reference exactly, including its bottom-up
    collection order (Delete.php builds ``$comments`` scanning upward
    and ``array_merge``\\ s it as-is, so a multi-line trailing comment
    block arrives at the next section REVERSED — parity over polish).
    A blank line terminates a comment run on both sides, so only the
    immediately-adjacent run moves/dies.

    ``highlight=True`` (Delete.php's --highlight preview): nothing is
    removed — every line that WOULD be deleted (the victims' lines and
    the adjacent leading-comment runs) prints wrapped in ANSI red
    instead, so the operator can eyeball the change before --write."""
    if keep_comments not in ("all", "leading", "trailing", "none"):
        raise ValueError(
            "keep_comments must be one of all/leading/trailing/none, "
            f"got {keep_comments!r}"
        )
    # split into sections: the pre-header preamble (name "") plus one
    # entry per [header], each holding its own verbatim lines
    sections: list[dict] = []
    current = ""
    lines: list[str] = []
    for line in text.splitlines():
        sec = _section_of(line)
        if sec is not None:
            if lines:
                sections.append(
                    {"name": current, "lines": lines,
                     "deleted": current in sources}
                )
            current = sec
            lines = []
        lines.append(line)
    if lines:
        sections.append(
            {"name": current, "lines": lines, "deleted": current in sources}
        )

    for idx, section in enumerate(sections):
        if not section["deleted"]:
            continue
        if keep_comments in ("all", "trailing") and idx < len(sections) - 1:
            comments: list[str] = []
            for line in reversed(section["lines"]):
                if line.strip() == "" or not _is_comment(line):
                    if comments:
                        sections[idx + 1]["lines"] = (
                            comments + sections[idx + 1]["lines"]
                        )
                        section["lines"] = section["lines"][: -len(comments)]
                    break
                comments.append(line)
        if keep_comments in ("trailing", "none") and idx > 0:
            prev = sections[idx - 1]
            if not prev["deleted"]:
                i = len(prev["lines"]) - 1
                while i >= 0:
                    last = prev["lines"][i]
                    if last.strip() == "" or last.startswith(_RED) or (
                        not _is_comment(last)
                    ):
                        break
                    if highlight:
                        prev["lines"][i] = _RED + last + _RESET
                    else:
                        prev["lines"].pop(i)
                    i -= 1

    if highlight:
        for s in sections:
            if s["deleted"]:
                s["lines"] = [_RED + ln + _RESET for ln in s["lines"]]
        kept = sections
    else:
        kept = [s for s in sections if not s["deleted"]]
    return "\n".join(
        "\n".join(s["lines"]) for s in kept
    ) + "\n"


def show_config(text: str, source: str) -> str:
    """ShowConfig.php: the verbatim lines of one source's section."""
    out: list[str] = []
    current = ""
    for line in text.splitlines():
        sec = _section_of(line)
        if sec is not None:
            current = sec
        if current == source:
            out.append(line)
    return "\n".join(out) + ("\n" if out else "")


def search_sources(text: str, regexp: str) -> list[str]:
    """Search.php: source names whose parsed config has >= 1
    ``setting=value`` line matching the regexp (booleans normalized to
    1/0, array entries matched individually, file order preserved)."""
    from .config import _parse_php_ini

    if regexp.startswith("/"):
        # PHP-delimited form: strip delimiters ONLY when the closing
        # '/' exists; an unterminated '/abc' is a preg compile error in
        # the reference (Search.php passes it straight to preg_match),
        # not an empty match-everything pattern.
        body, sep, flags = regexp[1:].rpartition("/")
        if not sep:
            raise ValueError(
                f"missing closing regexp delimiter: {regexp!r}"
            )
        pat = re.compile(body, re.I if "i" in flags else 0)
    else:
        pat = re.compile(regexp)
    matches: list[str] = []
    for source, kv in _parse_php_ini(text).items():
        for key, value in kv.items():
            vals = value if isinstance(value, list) else [value]
            hit = False
            for v in vals:
                if isinstance(v, bool):
                    v = "1" if v else "0"
                elif str(v).lower() in ("true", "false"):
                    v = "1" if str(v).lower() == "true" else "0"
                if pat.search(f"{key}={v}"):
                    matches.append(source)
                    hit = True
                    break
            if hit:
                break
    return matches
