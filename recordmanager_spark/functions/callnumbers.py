"""LC and Dewey call-number parsing and sort keys.

Behavioral spec (reference, NOT code): Utils/LcCallNumber.php:96-197,
Utils/DeweyCallNumber.php:95-190, Utils/AbstractCallNumber.php:74-84
(createSortableString: uppercase, each digit run prefixed with its
significant length so '9' < '10' lexically; whitespace collapsed).

These are irreducibly procedural multi-step regex parses, so they run as
Arrow-batched pandas UDFs over pure-Python parsers (unit-testable without
Spark). Applied once per record at extract time — no shuffle, no state.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType


def _sortable(s: str) -> str:
    s = re.sub(r"(\d+)", lambda m: str(len(str(int(m.group(1))))) + m.group(1), s.upper())
    return re.sub(r"\s{2,}", " ", s)


class LcCallNumber:
    """Parse per LcCallNumber.php:96-133."""

    def __init__(self, callnumber: str):
        callnumber = (callnumber or "").strip()
        self.letters = self.digits = self.decimal = self.suffix = self.cutter = ""
        self.classification = ""
        m = re.match(r"^([a-zA-Z]+) *(?:(\d+)(\.\d+)?)?(.*)$", callnumber)
        rest = ""
        if m:
            self.classification = callnumber.strip()
            self.letters = (m.group(1) or "").strip()
            self.digits = (m.group(2) or "").strip()
            self.decimal = (m.group(3) or "").strip()
            rest = (m.group(4) or "").strip()
        if rest:
            pm = re.search(r"(\.?[A-Za-z]\d+|^\.[A-Za-z]| \.[A-Za-z])", rest)
            if pm:
                self.suffix = rest[: pm.start()].strip()
                self.cutter = rest[pm.start():].strip()
            else:
                self.suffix = rest

    def is_valid(self) -> bool:
        if not self.letters or not self.digits:
            return False
        return self.letters[0].upper() not in ("I", "O", "W", "X", "Y")

    def sort_key(self) -> str:
        key = self.letters.upper()
        if self.digits:
            if key:
                key += " "
            key += str(len(str(int(self.digits)))) + self.digits
        key += self.decimal
        if self.suffix:
            if key:
                key += " "
                if self.suffix[0].isalpha():
                    key += "_"
            key += _sortable(self.suffix)
        if self.cutter:
            pos = 0
            for m in re.finditer(r"[A-Za-z]\d+", self.cutter):
                if m.start() < pos:
                    continue
                if key:
                    key += " "
                key += _sortable(m.group(0))
                pos = m.start() + 1
        return key


class DeweyCallNumber:
    """Parse per DeweyCallNumber.php:95-190."""

    def __init__(self, callnumber: str):
        self.raw = callnumber = (callnumber or "").strip()
        self.classification = self.digits = self.decimal = None
        self.cutter = None
        self.suffix = ""
        rest = ""
        m = re.match(r"^((\d+)(\.\d+)?)(.*)", callnumber) if callnumber else None
        if m:
            self.classification = m.group(1)
            self.digits = m.group(2)
            self.decimal = m.group(3)
            rest = m.group(4)
        cm = re.match(r" *\.?([A-Z]\d{1,3}(?:[A-Z]+)?) *(.+)?", rest)
        if cm:
            self.cutter = cm.group(1)
            self.suffix = cm.group(2) or ""
        else:
            self.suffix = rest

    def is_valid(self) -> bool:
        return self.digits is not None

    def number(self, precision: int) -> str:
        if self.classification is not None:
            val = float(self.classification)
            return "%03.0F" % ((val // precision) * precision)
        return ""

    def search_string(self) -> str:
        return self.raw.replace(" ", "").upper() if self.is_valid() else ""

    def sort_key(self) -> str:
        result = ""
        if self.digits is not None:
            result += _sortable(self.digits)
        if self.decimal is not None:
            result += self.decimal or ""
        if self.cutter is not None:
            if result:
                result += " "
            result += self.cutter
        # PHP's suffix is ALWAYS a string ('' when absent), so a non-empty
        # key always gains the separator — '330.903' sorts as '3330.903 '
        # with a trailing space (DeweyCallNumber.php:165-189; the golden
        # dewey-sort in tests/.../MarcTest.php testMarcDewey shows it)
        if self.suffix is not None:
            if result:
                result += " "
            result += _sortable(self.suffix)
        return result


@pandas_udf(StringType())
def lc_sort_key(col: pd.Series) -> pd.Series:
    return col.map(lambda v: LcCallNumber(v).sort_key() if v else "")


@pandas_udf(BooleanType())
def lc_is_valid(col: pd.Series) -> pd.Series:
    return col.map(lambda v: LcCallNumber(v).is_valid() if v else False)


@pandas_udf(StringType())
def dewey_sort_key(col: pd.Series) -> pd.Series:
    return col.map(lambda v: DeweyCallNumber(v).sort_key() if v else "")


@pandas_udf(StringType())
def dewey_search_string(col: pd.Series) -> pd.Series:
    return col.map(lambda v: DeweyCallNumber(v).search_string() if v else "")


@pandas_udf(StringType())
def lc_sort_key_first_valid(col: pd.Series) -> pd.Series:
    """callnumber-sort over the raw array (Record/Marc.php:527-548): the
    first VALID call number's sort key; else the first non-empty sort key
    computed from any of them; else ''."""

    def pick(vals):
        if vals is None:
            return ""
        fallback = ""
        for v in vals:
            cn = LcCallNumber(v)
            key = cn.sort_key()
            if fallback == "" and key:
                fallback = key
            if cn.is_valid():
                return key
        return fallback

    return col.map(pick)


def dewey_number_udf(precision: int):
    @pandas_udf(StringType())
    def _f(col: pd.Series) -> pd.Series:
        return col.map(
            lambda v: DeweyCallNumber(v).number(precision)
            if v and DeweyCallNumber(v).is_valid()
            else ""
        )

    return _f
