"""The map (emit-UDTF) adapter and reduce (fold) lowering.

Reference semantics being preserved:

- ``map(value, meta, emit)`` is called once per file; ``emit(key, value)``
  may fire 0..N times (filter / project / flatMap in one UDF)
  — /root/reference/lib/indexer.js:228-239, README.md:167-175.
- ``reduce(acc, value, key)`` folds ALL current entries of a key,
  acc starting undefined (None), recomputed from scratch on every
  change; an undefined result deletes the key
  — /root/reference/lib/indexer.js:245-254, lib/view.js:155-162.
- Entry-list order is visible to the fold, so the generic path must be
  deterministic: we sort by (file_url, emit_seq) before folding
  (SURVEY.md §7 risk register).

Spark lowering:

- map  -> ``mapInPandas`` (Arrow-batched; one Python call per batch,
  not per row). Emits land as rows (key struct, key_json, value-JSON,
  file_url, emit_seq). This is the UDF *slow path* kept for API
  fidelity; oracle-facing relational queries use native Columns.
- reduce builtin names ("count","sum","min","max","avg","collect")
  -> native ``groupBy().agg()`` — JVM-side, codegen, map-side partial
  aggregation (the canonical README fold ``(acc||0)+1`` IS F.count).
- reduce generic Python fn -> ``applyInPandas`` per key over entries
  sorted by (file_url, emit_seq) — deterministic and faithful.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dat_archive_map_reduce_spark.errors import SchemaError
from dat_archive_map_reduce_spark.functions.keys import key_json as _key_json
from dat_archive_map_reduce_spark.functions.keys import key_struct_type, normalize_key

# sentinel distinguishing "reduce returned None => delete key" (the
# reference's delete-on-undefined) from "acc is None at start"
_UNSET = object()


def entries_schema(key_types: Sequence[T.DataType]) -> T.StructType:
    return T.StructType(
        [
            T.StructField("key", key_struct_type(len(key_types), key_types), False),
            T.StructField("key_json", T.StringType(), False),
            T.StructField("value", T.StringType(), True),
            T.StructField("file_url", T.StringType(), False),
            T.StructField("emit_seq", T.LongType(), False),
            T.StructField("origin", T.StringType(), False),
        ]
    )


def reduced_schema(key_types: Sequence[T.DataType]) -> T.StructType:
    return T.StructType(
        [
            T.StructField("key", key_struct_type(len(key_types), key_types), False),
            T.StructField("key_json", T.StringType(), False),
            T.StructField("value", T.StringType(), True),
        ]
    )


def _coerce_component(v: Any, dt: T.DataType) -> Any:
    if v is None:
        return None
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, T.LongType):
        return int(v)
    if isinstance(dt, T.DoubleType):
        return float(v)
    if isinstance(dt, T.BooleanType):
        return bool(v)
    return v


def map_file_entries(
    map_fn: Callable[[str, dict, Callable[[Any, Any], None]], None],
    key_types: Sequence[T.DataType],
    integer_values: bool,
    origin: str,
    pathname: str,
    url: str,
    content: str,
) -> "list[tuple]":
    """Run the user's map over ONE file and return its entry rows as
    tuples in ``entries_schema`` order: (key components, key_json,
    value JSON, file_url, emit_seq, origin).

    The one implementation of the map semantics: the ``mapInPandas``
    adapter (run_map) and the watch path's driver-side commit both
    call it, so key normalisation, key_json, the value encoding and
    the declared-integer check cannot diverge between them."""
    n_key = len(key_types)
    emits: list[tuple[Any, Any]] = []
    map_fn(
        content,
        {"url": url, "origin": origin, "pathname": pathname},
        lambda key, value: emits.append((key, value)),
    )
    out = []
    for seq, (key, value) in enumerate(emits):
        comps = normalize_key(key)
        if len(comps) != n_key:
            raise ValueError(
                f"map emitted key with {len(comps)} components, "
                f"view declares {n_key}: {key!r}"
            )
        comps = tuple(
            _coerce_component(c, key_types[i]) for i, c in enumerate(comps)
        )
        if integer_values and (isinstance(value, bool) or not isinstance(value, int)):
            raise SchemaError(
                f"map emitted non-integer value {value!r} at "
                f"key {key!r} ({url}) but the view declares "
                "value_type integer — the exact-delta fold "
                "would diverge from the refold; emit ints, "
                "or drop the value_type declaration"
            )
        out.append(
            (
                comps,
                _key_json(comps if n_key > 1 else comps[0]),
                json.dumps(value, separators=(",", ":")),
                url,
                seq,
                origin,
            )
        )
    return out


def run_map(
    files: DataFrame,
    map_fn: Callable[[str, dict, Callable[[Any, Any], None]], None],
    key_types: Sequence[T.DataType],
    value_type: "str | None" = None,
) -> DataFrame:
    """Run the user's map UDF over a files DataFrame -> entries rows.

    ``files`` must have columns (origin, pathname, url, content); only
    'put' rows should be passed in. Uses mapInPandas so each Python
    worker processes an Arrow batch of whole files at a time; each
    file goes through map_file_entries.

    ``value_type`` declared-integer ('long'/'int'/'bigint') ENFORCES
    integer emits (r13 ADVICE): the declaration licenses the exact
    sum/avg delta path, whose BIGINT arithmetic would silently
    null/truncate a float or numeric-string value while the batch
    refold sums it as a double — exactly the stream/batch drift the
    declaration exists to prevent. A non-integer emit — floats,
    numeric strings, booleans, AND None (the sum/avg folds cast the
    stored JSON text, where a null is not an integer) — raises INSIDE
    the map stage (worker-side, zero extra jobs), failing the batch
    loudly before anything commits.
    """
    out_schema = entries_schema(key_types)
    key_types_local = list(key_types)
    integer_values = value_type in ("long", "int", "bigint")
    names = [f.name for f in out_schema.fields]

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for origin, pathname, url, content in zip(
                pdf["origin"], pdf["pathname"], pdf["url"], pdf["content"]
            ):
                rows.extend(
                    map_file_entries(
                        map_fn, key_types_local, integer_values,
                        origin, pathname, url, content,
                    )
                )
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame({n: list(c) for n, c in zip(names, cols)})

    cols = ["origin", "pathname", "url", "content"]
    return files.select(*cols).mapInPandas(_map_batches, schema=out_schema)


# ---------------------------------------------------------------------
# reduce lowering
# ---------------------------------------------------------------------

def reduce_entries(
    entries: DataFrame,
    reduce_fn: Callable[[Any, Any, Any], Any] | str,
    key_types: Sequence[T.DataType],
) -> DataFrame:
    """entries -> reduced(key, key_json, value) via the fold.

    Builtin named folds lower to native aggregates (fast path: partial
    map-side aggregation, no Python). A Python fold runs per key over
    entries sorted by (file_url, emit_seq) — the deterministic order the
    reference exposes to its sequential fold.
    """
    if isinstance(reduce_fn, str):
        return _reduce_builtin(entries, reduce_fn)
    return _reduce_python(entries, reduce_fn, key_types)


def _reduce_builtin(entries: DataFrame, name: str) -> DataFrame:
    val = F.col("value").cast("double")
    # min/max SKIP non-numeric values (try_cast -> NULL, which the agg
    # skips; ANSI mode would otherwise throw on the first string emit)
    # — mirrored exactly by the engine's histogram delta path, which
    # tracks numeric values only. sum/avg stay strict: a non-numeric
    # value there is a genuine type error, not an ignorable outlier.
    tval = F.col("value").try_cast("double")
    aggs = {
        "count": F.count(F.lit(1)),
        "sum": F.sum(val),
        "min": F.min(tval),
        "max": F.max(tval),
        "avg": F.avg(val),
        # entries.value ALREADY holds JSON text, so the array must be
        # assembled from the raw fragments — to_json() over the strings
        # would double-encode ('["\"a\""]' instead of '["a"]')
        "collect": F.concat(
            F.lit("["),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("file_url", "emit_seq", "value"))
                    ).getField("value"),
                    lambda v: F.coalesce(v, F.lit("null")),
                ),
                ",",
            ),
            F.lit("]"),
        ),
    }
    if name not in aggs:
        raise ValueError(f"unknown builtin fold {name!r}")
    agg_col = aggs[name]
    out_value = agg_col if name == "collect" else agg_col.cast("string")
    return (
        entries.groupBy("key", "key_json")
        .agg(out_value.alias("value"))
        .select("key", "key_json", "value")
    )


def _reduce_python(
    entries: DataFrame,
    reduce_fn: Callable[[Any, Any, Any], Any],
    key_types: Sequence[T.DataType],
) -> DataFrame:
    out_schema = reduced_schema(key_types)
    n_key = len(key_types)

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["file_url", "emit_seq"], kind="mergesort")
        kj = pdf["key_json"].iloc[0]
        # Arrow hands the key struct to pandas as a dict {'k0': ..., ...}
        key_struct = pdf["key"].iloc[0]
        if isinstance(key_struct, dict):
            key_tuple = {f"k{i}": key_struct[f"k{i}"] for i in range(n_key)}
        else:  # Row-like
            key_tuple = {f"k{i}": key_struct[i] for i in range(n_key)}
        key_arg = json.loads(kj)  # scalar or list, as the user's map emitted it
        acc: Any = _UNSET
        for vs in pdf["value"]:
            v = None if vs is None else json.loads(vs)
            acc = reduce_fn(None if acc is _UNSET else acc, v, key_arg)
        if acc is None or acc is _UNSET:
            # delete-on-undefined (lib/view.js:157-161)
            return pd.DataFrame({"key": [], "key_json": [], "value": []})
        return pd.DataFrame(
            {
                "key": [key_tuple],
                "key_json": [kj],
                "value": [json.dumps(acc, separators=(",", ":"))],
            }
        )

    return entries.groupBy("key_json").applyInPandas(_fold, schema=out_schema)
