"""Spark SQL text for the literals and identifiers of built expressions.

The ingest expressions (coerce.py, validation.py) and the IVF codebook
literals (operators/similarity.py) are rendered as SQL text and handed to
the JVM in one ``F.expr`` parse each; a ``Column`` tree built node by node
costs a py4j round trip per node.  These helpers render values so that
the parse reads them back exactly, under the default parser settings
(``spark.sql.parser.escapedStringLiterals`` off: ``\\`` is an escape
character inside string literals).
"""

from __future__ import annotations

__all__ = ["double", "double_array", "ident", "string"]


def string(s: str) -> str:
    """A string literal (also a regex pattern): ``\\`` and ``'`` escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(x: float) -> str:
    """A DOUBLE literal.  A bare ``1000.0`` parses as DECIMAL, which
    changes the type a comparison runs in."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def double_array(values) -> str:
    """An ``array<double>`` literal; nested lists nest."""
    return "array(" + ", ".join(
        double_array(v) if isinstance(v, (list, tuple)) else double(v) for v in values
    ) + ")"


def ident(name: str) -> str:
    """A quoted identifier: backtick-quoted, embedded backticks doubled."""
    return "`" + name.replace("`", "``") + "`"
