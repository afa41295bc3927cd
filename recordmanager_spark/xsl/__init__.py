"""Pure-Python XSLT 1.0 subset engine (stdlib-only).

Behavioral spec (reference, NOT code): Utils/XslTransformation.php:74-172
applies per-source XSL stylesheets with ini-file parameters; the
stylesheets shipped under ``transformations/`` (EadSplit.xsl,
MARC21slim2OAIDC.xsl, helmet.xsl, ...) use a well-bounded XSLT 1.0
subset. This package implements exactly that subset on top of
``xml.etree`` so the engine runs in environments without lxml; when lxml
IS available, ``sources.transforms`` prefers it.

Modules:
- ``xpath1``: XPath 1.0 expression tokenizer/parser/evaluator over a
  parent-linked node tree built from ElementTree.
- ``engine``: stylesheet compiler + transformer (templates with modes,
  named templates, params/variables, AVTs, copy/copy-of, import).
"""
