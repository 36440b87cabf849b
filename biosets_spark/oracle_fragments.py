"""Shared DuckDB-oracle SQL fragments used across the query waves.

The differential gate (tools/check_oracle.py) compares every Spark
plan against its DuckDB oracle value-by-value, so BOTH engines must
tokenize / quantize identically. These fragments used to be
re-declared per wave file; a drift between two copies (e.g. one wave
switching to a ``\\s`` whitespace class the other engine doesn't
expand the same way) is exactly the kind of bug the gate can't catch
when the oracle drifts in lockstep. One definition, imported
everywhere (r5 verdict task #7); tests/test_registry.py asserts no
wave file re-declares the literals.

Conventions (see biosets_spark/queries.py module docstring):

- Tokenization splits on the explicit ASCII whitespace class
  ``[ \\t\\n\\x0B\\f\\r]`` — never ``\\s``, whose Unicode expansion
  differs between Java and DuckDB regex engines (r3 ADVICE).
- Money never sums as double: quantize to integer cents or DECIMAL
  first, cast to double only in the final SELECT.
"""

# Non-empty whitespace-delimited tokens of the documents.text column —
# the oracle twin of operators/text.py's F.split on the same class.
TOKS_SQL = (
    "list_filter(string_split_regex(trim(text),"
    " '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
)

# Exact lineitem revenue: DECIMAL products, never double sums.
REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2)))"
)
