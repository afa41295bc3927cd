"""The ctypes libicui18n collator (functions/icu_ctypes.py) — the
zero-third-party path behind ``xsl:sort lang=`` on images where the
PyICU wheel is absent but the ICU shared library is present (every
mainstream Linux base image)."""

import pytest

from recordmanager_spark.functions import icu_ctypes as IC

pytestmark = pytest.mark.skipif(
    IC._load() is None, reason="libicui18n not loadable"
)


def test_collator_swedish_after_z():
    coll = IC.Collator.createInstance("sv")
    words = ["ärlig", "zebra", "apa", "öga", "åka"]
    assert sorted(words, key=coll.key()) == [
        "apa", "zebra", "åka", "ärlig", "öga"
    ]
    assert coll.compare("apa", "zebra") < 0
    assert coll.compare("åka", "zebra") > 0
    assert coll.compare("apa", "apa") == 0
