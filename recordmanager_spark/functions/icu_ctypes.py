"""Minimal ctypes binding to the SYSTEM ICU library (libicui18n).

The reference folds dedup keys through an ICU transliterator
(MetadataUtils.php:416-433 — behavioral spec, not code) and sorts with
ICU collation. PyICU is the normal Python binding, but it is a compiled
wheel that may be absent from a cluster image (it is absent from this
one) while the ICU *shared library* itself is almost universally
installed — Spark's own JVM ships ICU4J, and every mainstream Linux
base image carries libicui18n. This module binds the two entry points
the engine needs straight from the C API with ctypes, so
``normalize_key_icu`` and the XSLT ``xsl:sort lang=``
collator run REAL ICU rules with zero third-party Python packages.

Only public, versioned ICU C symbols are used (``utrans_openU``,
``utrans_transUChars``, ``ucol_open``, ``ucol_strcoll`` — suffixed
``_<major>`` on Linux builds). The surface mimics the PyICU classes the
engine touches (``Transliterator.createFromRules(...).transliterate``,
``Collator.createInstance(...).compare``), so callers fall back from
``import icu`` to this module without branching logic.

Executor requirement: the shared library must be loadable on every
node (this module ships with the package, so a wheel install is
enough). ``available()`` is the probe; callers raise a clear error
when it is False rather than silently changing key semantics.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import glob
import threading

_U_BUFFER_OVERFLOW_ERROR = 15

_lock = threading.Lock()
_state: dict = {}


class UTransDirection:
    FORWARD = 0
    REVERSE = 1


class _UParseError(ctypes.Structure):
    _fields_ = [
        ("line", ctypes.c_int32),
        ("offset", ctypes.c_int32),
        ("preContext", ctypes.c_uint16 * 16),
        ("postContext", ctypes.c_uint16 * 16),
    ]


def _find_lib() -> str | None:
    name = ctypes.util.find_library("icui18n")
    if name:
        return name
    for pat in (
        "/usr/lib/*/libicui18n.so*",
        "/usr/lib/libicui18n.so*",
        "/usr/local/lib/libicui18n.so*",
        "/opt/homebrew/opt/icu4c/lib/libicui18n.dylib",
    ):
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[0]
    return None


def _load() -> dict | None:
    """Load libicui18n and resolve versioned symbols once per process."""
    with _lock:
        if "lib" in _state:
            return _state["lib"]
        path = _find_lib()
        lib = None
        if path:
            try:
                raw = ctypes.CDLL(path)
                suffix = None
                # Linux distro builds suffix C symbols with the major
                # version; macOS/homebrew builds do not.
                for cand in [""] + [f"_{v}" for v in range(60, 100)]:
                    if hasattr(raw, "utrans_openU" + cand):
                        suffix = cand
                        break
                if suffix is not None:
                    fns = {}
                    for sym in (
                        "utrans_openU",
                        "utrans_transUChars",
                        "utrans_close",
                        "ucol_open",
                        "ucol_strcoll",
                        "ucol_close",
                    ):
                        fns[sym] = getattr(raw, sym + suffix)
                    # declare full prototypes: relying on ctypes'
                    # default int conversion for int32/pointer params
                    # is UB on ABIs where the widths differ (r8 ADVICE)
                    u16p = ctypes.POINTER(ctypes.c_uint16)
                    i32p = ctypes.POINTER(ctypes.c_int32)
                    fns["utrans_openU"].restype = ctypes.c_void_p
                    fns["utrans_openU"].argtypes = [
                        u16p, ctypes.c_int32,  # id, idLength
                        ctypes.c_int32,        # direction
                        u16p, ctypes.c_int32,  # rules, rulesLength
                        ctypes.POINTER(_UParseError), i32p,
                    ]
                    fns["utrans_transUChars"].restype = None
                    fns["utrans_transUChars"].argtypes = [
                        ctypes.c_void_p,       # trans
                        u16p, i32p,            # text, textLength
                        ctypes.c_int32,        # textCapacity
                        ctypes.c_int32, i32p,  # start, limit
                        i32p,                  # status
                    ]
                    fns["utrans_close"].restype = None
                    fns["utrans_close"].argtypes = [ctypes.c_void_p]
                    fns["ucol_open"].restype = ctypes.c_void_p
                    fns["ucol_open"].argtypes = [ctypes.c_char_p, i32p]
                    fns["ucol_strcoll"].restype = ctypes.c_int32
                    fns["ucol_strcoll"].argtypes = [
                        ctypes.c_void_p,
                        u16p, ctypes.c_int32,
                        u16p, ctypes.c_int32,
                    ]
                    fns["ucol_close"].restype = None
                    fns["ucol_close"].argtypes = [ctypes.c_void_p]
                    lib = {"raw": raw, "fns": fns, "path": path}
            except OSError:
                lib = None
        _state["lib"] = lib
        return lib


def available() -> bool:
    return _load() is not None


def _u16(s: str):
    b = s.encode("utf-16-le")
    n = len(b) // 2
    buf = (ctypes.c_uint16 * (n + 1))()
    ctypes.memmove(buf, b, len(b))
    return buf, n


class ICUError(RuntimeError):
    pass


class Transliterator:
    """PyICU-shaped wrapper over ``utrans_openU``/``utrans_transUChars``."""

    def __init__(self, handle, fns):
        self._h = handle
        self._fns = fns

    @classmethod
    def createFromRules(
        cls, name: str, rules: str, direction: int = UTransDirection.FORWARD
    ) -> "Transliterator":
        lib = _load()
        if lib is None:
            raise ICUError("libicui18n not loadable on this machine")
        fns = lib["fns"]
        rid, ridn = _u16(name)
        rbuf, rn = _u16(rules)
        pe = _UParseError()
        status = ctypes.c_int32(0)
        h = fns["utrans_openU"](
            rid, ridn, direction, rbuf, rn,
            ctypes.byref(pe), ctypes.byref(status),
        )
        if status.value > 0 or not h:
            raise ICUError(
                f"utrans_openU failed: status={status.value} "
                f"line={pe.line} offset={pe.offset}"
            )
        return cls(h, fns)

    def transliterate(self, s: str) -> str:
        if s == "":
            return ""
        b = s.encode("utf-16-le")
        n = len(b) // 2
        cap = max(64, n * 4)
        for _ in range(6):  # growth retries: Han->pinyin expands
            buf = (ctypes.c_uint16 * cap)()
            ctypes.memmove(buf, b, len(b))
            tl = ctypes.c_int32(n)
            limit = ctypes.c_int32(n)
            status = ctypes.c_int32(0)
            self._fns["utrans_transUChars"](
                ctypes.c_void_p(self._h), buf, ctypes.byref(tl), cap,
                0, ctypes.byref(limit), ctypes.byref(status),
            )
            if status.value == _U_BUFFER_OVERFLOW_ERROR or tl.value > cap:
                cap = max(cap * 4, tl.value + 64)
                continue
            if status.value > 0:
                raise ICUError(f"utrans_transUChars: status={status.value}")
            return ctypes.string_at(buf, tl.value * 2).decode("utf-16-le")
        raise ICUError("transliteration buffer kept overflowing")

    def __del__(self):  # pragma: no cover - interpreter-shutdown ordering
        try:
            if self._h:
                self._fns["utrans_close"](ctypes.c_void_p(self._h))
                self._h = None
        except Exception:
            pass


class Collator:
    """PyICU-shaped wrapper over ``ucol_open``/``ucol_strcoll`` — the
    default ``xsl:sort lang=`` collator (the reference sorts with ICU
    collation; see xsl/engine.py)."""

    def __init__(self, handle, fns):
        self._h = handle
        self._fns = fns

    @classmethod
    def createInstance(cls, locale: str = "") -> "Collator":
        lib = _load()
        if lib is None:
            raise ICUError("libicui18n not loadable on this machine")
        fns = lib["fns"]
        status = ctypes.c_int32(0)
        try:
            # ICU locale IDs are ASCII by definition (BCP-47 subtags);
            # a non-ASCII tag is an invalid locale, reported as the
            # documented ICUError rather than a UnicodeEncodeError
            loc = locale.encode("ascii")
        except UnicodeEncodeError as e:
            raise ICUError(
                f"ucol_open: non-ASCII locale tag {locale!r}"
            ) from e
        h = fns["ucol_open"](loc, ctypes.byref(status))
        if status.value > 0 or not h:
            raise ICUError(f"ucol_open({locale!r}): status={status.value}")
        return cls(h, fns)

    def compare(self, a: str, b: str) -> int:
        ab, an = _u16(a)
        bb, bn = _u16(b)
        return int(
            self._fns["ucol_strcoll"](ctypes.c_void_p(self._h), ab, an, bb, bn)
        )

    def key(self):
        """functools-style cmp_to_key adapter for list.sort."""
        import functools

        return functools.cmp_to_key(self.compare)

    def __del__(self):  # pragma: no cover - interpreter-shutdown ordering
        try:
            if self._h:
                self._fns["ucol_close"](ctypes.c_void_p(self._h))
                self._h = None
        except Exception:
            pass
