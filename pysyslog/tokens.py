"""Token-array codec (BASELINE.json input_hint).

The pipeline input is an Iceberg/parquet table of pre-tokenized lines:
(doc_id string, tokens array<int32>, n_tok int32, source string) where
tokens are the UTF-8 byte values of the raw syslog line.  The per-row
invariant is exact round-trip equality: the tokens decode to a line
whose UTF-8 encoding is the tokens again.

`decode_tokens` is the one token decoder; the parse UDF
(pysyslog.parser) calls it on token input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def decode_tokens(tokens: pd.Series) -> pd.Series:
    """Token arrays -> raw lines (strict UTF-8); a null array decodes
    to None."""
    return pd.Series(
        [None if a is None
         else np.asarray(a, dtype=np.uint8).tobytes().decode("utf-8", "strict")
         for a in tokens],
        index=tokens.index, dtype=object,
    )


def roundtrip_violation(tokens):
    """Column: true where a row breaks the token-array equality
    invariant, a JVM predicate over the tokens column (no Python
    crossing).

    Under strict UTF-8, a byte string that decodes encodes back to the
    same bytes, so the round trip can only fail where the array is not
    a byte string: a null element, or a value outside 0-255 (the byte
    cast would wrap it).  In-range invalid UTF-8 cannot decode at all;
    the parse UDF's strict `decode_tokens` fails the job on that row,
    so it never reaches a manifest.  A null array decodes to a null
    line and back, so it is no violation."""
    return F.exists(tokens, lambda t: t.isNull() | (t < 0) | (t > 255))
