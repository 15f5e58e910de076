"""The one UDF idiom of the operator library.

``arrow_map(py_fn, return_type)`` turns a per-row Python kernel into a
Column function backed by one scalar ``arrow_udf``:

- each argument column is read once per Arrow batch as Python values
  (``to_pylist()``; strings and string arrays through numpy, faster);
- ``py_fn`` runs once per *distinct* argument row in the batch (web text
  repeats tokens and boilerplate sentences, so the per-batch memo is
  always on);
- the results become one ``pa.array(rows, type=...)``, with the Arrow
  type built once when the operator is defined;
- null rule: a row whose first argument is null gives null; later
  arguments reach ``py_fn`` as they are, ``None`` included.

The helper has no options.  An operator whose null behaviour differs
keeps it in its own ``py_*`` function or in SQL around the Column.
"""
from __future__ import annotations

from typing import Callable

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType


_MISS = object()


def _key(value):
    """Hashable stand-in for one argument value: ``to_pylist`` gives arrays
    as lists and structs as dicts."""
    if isinstance(value, list):
        value = tuple(value)
        try:
            hash(value)
        except TypeError:  # nested arrays or structs
            return tuple(map(_key, value))
        return value
    if isinstance(value, dict):
        return tuple(map(_key, value.values()))
    return value


def _pylist(arr: pa.Array) -> list:
    """``arr.to_pylist()``.  String and list<string> columns are read
    through numpy: ``to_pylist`` builds one Arrow scalar per string, which
    on token arrays costs about a fifth of the morphology itself."""
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return arr.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_list(t) and pa.types.is_string(t.value_type):
        values = arr.values.to_numpy(zero_copy_only=False).tolist()
        off = arr.offsets.to_numpy().tolist()
        valid = arr.is_valid().to_numpy(zero_copy_only=False).tolist()
        return [values[off[i]:off[i + 1]] if valid[i] else None for i in range(len(arr))]
    return arr.to_pylist()


def arrow_map(py_fn: Callable, return_type: DataType) -> Callable[..., Column]:
    """Per-row kernel -> Column function over ``str | Column`` arguments."""
    arrow_type = to_arrow_type(return_type)

    def batch(*arrays: pa.Array) -> pa.Array:
        memo: dict = {}
        rows = []
        for args in zip(*map(_pylist, arrays)):
            if args[0] is None:
                rows.append(None)
                continue
            key = tuple(map(_key, args))
            hit = memo.get(key, _MISS)
            if hit is _MISS:
                hit = memo[key] = py_fn(*args)
            rows.append(hit)
        return pa.array(rows, type=arrow_type)

    batch.__name__ = py_fn.__name__  # the name plans and errors show
    udf = arrow_udf(batch, return_type)

    def column(*cols: Column | str) -> Column:
        return udf(*(F.col(c) if isinstance(c, str) else c for c in cols))

    return column
