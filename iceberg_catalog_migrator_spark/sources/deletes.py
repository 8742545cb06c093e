"""Merge-on-read delete application: the one kernel every read path calls.

Which rows does a pending delete hide? Three rules, each defined once
here and nowhere else:

- **Positional.** A row is hidden when its ``(data file, row ordinal)``
  coordinate appears in a position-delete file or deletion vector.
- **Sequence** (:func:`applies`). An equality delete hides rows only of
  data files sequenced STRICTLY before it. Iceberg spec, scan planning:
  "An equality delete file must be applied to a data file when ... the
  data file's data sequence number is strictly less than the delete's
  data sequence number" (https://iceberg.apache.org/spec/#scan-planning).
  A key re-appended after its deletion therefore stays visible.
- **Key match** (:func:`match_keys`, :func:`_key_mask`). A delete row
  hides a data row when every key column is equal, and NULL EQUALS
  NULL. Iceberg spec, equality delete files: the delete row
  ``4 | NULL`` under ``equality_ids=[1, 2]`` deletes the rows with
  ``id = 4 AND category IS NULL``
  (https://iceberg.apache.org/spec/#equality-delete-files) — not SQL
  equality, under which a null key would match nothing.

Two forms share these rules:

- the **Spark form** (:func:`apply_deletes`, :func:`match_keys`) for the
  JVM reads — ``SnapshotTable`` reads, merges and changelogs, and the
  Iceberg reader;
- the **Arrow form** (:func:`read_file`) for the ``snapshot_commits``
  Python data source, one data file per task.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# one equality-delete group: its key columns and (delete file, sequence)
EqGroup = tuple[list[str], list[tuple[str, float]]]

_FSEQ, _DSEQ = "__mor_fseq", "__mor_dseq"


# ------------------------------------------------------------ sequence rule
def applies(dseq, fseq):
    """Does an equality delete sequenced ``dseq`` hide rows of a data
    file sequenced ``fseq``? Works on numbers and on Spark Columns, so
    the planners and the Spark filter share this one comparison."""
    return dseq > fseq


def _delete_seq(snap: dict, d: str) -> float:
    """A snapshot-table delete file's sequence; a legacy unstamped one
    reads as +infinity (it applies to every data file)."""
    return snap.get("delete_seqs", {}).get(d, float("inf"))


def file_seqs(snap: dict, files: list[str]) -> dict[str, int]:
    """Sequence of each snapshot-table data file in ``files``; a legacy
    unstamped one reads as 0."""
    seqs = snap.get("file_seqs", {})
    return {f: seqs.get(f, 0) for f in files}


def applying(snap: dict, dels: list[str], f: str) -> list[str]:
    """The equality-delete files among ``dels`` that hide rows of data
    file ``f`` under ``snap``."""
    fseq = file_seqs(snap, [f])[f]
    return [d for d in dels if applies(_delete_seq(snap, d), fseq)]


def snapshot_groups(snap: dict) -> list[EqGroup]:
    """A snapshot table's pending equality deletes as kernel groups (the
    manifest keeps one key-column set for all of them)."""
    dels = snap.get("deletes", [])
    if not dels:
        return []
    return [(snap["delete_keys"], [(d, _delete_seq(snap, d)) for d in dels])]


def needs_sequences(groups: list[EqGroup], seqs: dict[str, int]) -> bool:
    """True when some data file escapes some group's OLDEST delete (a
    re-append, a merge's own output): that group needs the per-file
    sequence step, so rows must carry their file identity. False on
    every delete-is-newest history, where one plain anti-join is exact."""
    return any(
        not all(applies(min(s for _, s in dels), f) for f in seqs.values())
        for _, dels in groups
    )


# ------------------------------------------------------------ Spark form
def _key_names(key_cols: list[str]) -> list[str]:
    return [f"__mor_k{i}" for i in range(len(key_cols))]


def match_keys(
    df: DataFrame, keys: DataFrame, key_cols: list[str], how: str
) -> DataFrame:
    """Join ``df`` to the delete rows in ``keys`` under the key-match
    rule: every key column null-safe equal. ``how="left_anti"`` keeps
    the rows no key hides, ``"left_semi"`` the rows some key hides (so
    a count or changelog candidate set agrees with the scan), and
    ``"left"`` attaches ``keys``' other columns."""
    from pyspark.sql import functions as F

    names = _key_names(key_cols)
    cond = functools.reduce(
        operator.and_,
        [F.col(k).eqNullSafe(F.col(n)) for k, n in zip(key_cols, names)],
    )
    return df.join(keys.withColumnsRenamed(dict(zip(key_cols, names))), cond, how)


def apply_deletes(
    df: DataFrame,
    ids: tuple[str, str],
    coords: list[DataFrame],
    groups: list[EqGroup],
    seqs: dict[str, int],
    read: Callable[[list[str]], DataFrame],
) -> DataFrame:
    """The rows of ``df`` no pending delete hides.

    ``ids`` names ``df``'s (file, position) identity columns; each
    frame in ``coords`` holds deleted coordinates under the same names
    and is anti-joined away. ``groups`` are the equality deletes;
    ``read`` opens delete files by path. ``seqs`` maps each data file's
    identity value (as it appears in ``ids[0]``) to its sequence.

    A group whose oldest delete is newer than every data file is one
    plain anti-join (delete-is-newest, the common shape). Otherwise
    the group's keys carry the NEWEST sequence that lists them, the
    per-file sequence map broadcasts in (metadata-sized), and a row
    survives iff no newer delete lists its key. ``df`` then must carry
    ``ids[0]`` (see :func:`needs_sequences`); the key frame's join
    strategy is left to the planner, since it is O(deleted rows)."""
    from pyspark.sql import functions as F

    for c in coords:
        df = df.join(c, list(ids), "left_anti")
    scoped = []
    for key_cols, dels in groups:
        if needs_sequences([(key_cols, dels)], seqs):
            scoped.append((key_cols, dels))
        else:
            keys = read([d for d, _ in dels]).select(*key_cols)
            df = match_keys(df, keys, key_cols, "left_anti")
    if not scoped:
        return df
    fmap = df.sparkSession.createDataFrame(
        [(f, int(s)) for f, s in seqs.items()], f"{ids[0]} string, {_FSEQ} bigint"
    )
    df = df.join(F.broadcast(fmap), ids[0], "left")
    for key_cols, dels in scoped:
        keys = functools.reduce(
            lambda a, b: a.unionByName(b),
            [
                read([d]).select(*key_cols).withColumn(_DSEQ, F.lit(float(s)))
                for d, s in dels
            ],
        )
        keys = keys.groupBy(*key_cols).agg(F.max(_DSEQ).alias(_DSEQ))
        df = (
            match_keys(df, keys, key_cols, "left")
            .filter(F.col(_DSEQ).isNull() | ~applies(F.col(_DSEQ), F.col(_FSEQ)))
            .drop(*_key_names(key_cols), _DSEQ)
        )
    return df.drop(_FSEQ)


# ------------------------------------------------------------ Arrow form
def _keys_table(paths: list[str], keys: list[str]) -> pa.Table:
    """Distinct keys-only table from the given delete files — small by
    the merge-on-read write contract. Null keys form their own group."""
    import pyarrow.parquet as pq

    t = pa.concat_tables([pq.read_table(p, columns=keys) for p in paths])
    return t.group_by(keys).aggregate([])


def _key_mask(tbl: pa.Table, keys_tbl: pa.Table, keys: list[str]) -> np.ndarray:
    """Boolean mask of the rows of ``tbl`` whose key tuple appears in
    ``keys_tbl`` under the key-match rule (null matches null). One key
    is an ``is_in`` with nulls matched. Several keys join on each
    column's index into the key side's distinct values: ``index_in``
    matches null to null, while ``Table.join`` itself never matches a
    null key."""
    import pyarrow.compute as pc

    if len(keys) == 1:
        k = keys[0]
        hit = pc.is_in(tbl[k], value_set=keys_tbl[k].combine_chunks(), skip_nulls=False)
        return hit.to_numpy(zero_copy_only=False)
    values = [pc.unique(keys_tbl[k]) for k in keys]
    names = [f"c{i}" for i in range(len(keys))]

    def codes(t: pa.Table) -> list:
        return [
            pc.index_in(t[k], value_set=v, skip_nulls=False)
            for k, v in zip(keys, values)
        ]

    left = pa.table(codes(tbl), names=names).append_column(
        "__idx", pa.array(np.arange(len(tbl), dtype="int64"))
    )
    right = pa.table(codes(keys_tbl), names=names)
    hit = left.join(right, keys=names, join_type="left semi")["__idx"]
    mask = np.zeros(len(tbl), dtype=bool)
    mask[hit.to_numpy()] = True
    return mask


def _positions(paths: list[str], rel: str) -> np.ndarray:
    """Row ordinals of data file ``rel`` named by the given vector
    files — the per-file slice of the (file, pos) delete side."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = []
    for p in paths:
        t = pq.read_table(p, columns=["_file", "_pos"])
        out.append(
            t.filter(pc.equal(t["_file"], rel))["_pos"].to_numpy(zero_copy_only=False)
        )
    return np.unique(np.concatenate(out))


def _align(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """Project onto the declared schema: a column missing from the file
    (written before an additive evolution) becomes nulls, extra columns
    drop, types cast — the Python analog of the JVM read's mergeSchema."""
    cols = []
    for field in schema:
        if field.name in tbl.column_names:
            col = tbl[field.name]
            if col.type != field.type:
                col = col.cast(field.type)
        else:
            col = pa.nulls(len(tbl), type=field.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def read_file(plan: dict, schema: pa.Schema | None) -> Iterator[pa.Table]:
    """One data file's rows under its delete plan, batch by batch.

    ``plan`` holds ``file`` (path) and optionally ``rel`` (its
    table-relative name, which vector files key on), ``pos_include`` /
    ``pos_exclude`` (vector files whose coordinates in this file keep /
    drop a row), ``rename`` (written → current column names),
    ``include`` / ``exclude`` (equality-delete files whose ``keys`` keep
    / drop a row). Rows are matched by ordinal first, then renamed,
    then matched by key; each non-empty result is aligned to
    ``schema`` (unless None). The delete sides are read once per file."""
    import pyarrow.parquet as pq

    keys = plan.get("keys") or []
    include = _keys_table(plan["include"], keys) if plan.get("include") else None
    exclude = (
        _keys_table(plan["exclude"], keys) if plan.get("exclude") and keys else None
    )
    pos_inc, pos_exc = (
        _positions(plan[k], plan["rel"]) if plan.get(k) else None
        for k in ("pos_include", "pos_exclude")
    )
    rename = plan.get("rename")
    offset = 0
    for batch in pq.ParquetFile(plan["file"]).iter_batches():
        tbl = pa.Table.from_batches([batch])
        mask = np.ones(len(tbl), dtype=bool)
        if pos_inc is not None or pos_exc is not None:
            ords = np.arange(offset, offset + len(tbl))
            if pos_inc is not None:
                mask &= np.isin(ords, pos_inc)
            if pos_exc is not None:
                mask &= ~np.isin(ords, pos_exc)
        offset += len(tbl)
        if rename:
            tbl = tbl.rename_columns([rename.get(c, c) for c in tbl.column_names])
        if include is not None:
            mask &= _key_mask(tbl, include, keys)
        if exclude is not None:
            mask &= ~_key_mask(tbl, exclude, keys)
        if not mask.any():
            continue
        if not mask.all():
            tbl = tbl.filter(pa.array(mask))
        yield _align(tbl, schema) if schema is not None else tbl
