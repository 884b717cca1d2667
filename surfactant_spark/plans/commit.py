"""The one marker-commit protocol behind every materialized write.

A unit of data (a parquet directory, or a versioned directory of
several) is committed exactly when its marker file holds parseable
JSON. Every writer follows the same three steps:

1. marker off: :func:`write` removes the unit's marker before it
   overwrites anything, so no marker ever stands over half-rewritten
   data;
2. write: the parquet overwrite, with the row count observed during
   the write action (no second job);
3. marker on: :func:`mark` writes the JSON to a temp file beside the
   marker and ``os.replace``-s it in, so a reader sees no marker or a
   whole one, never a torn one.

Readers trust only markers: :func:`marker_info` treats a missing or
unparseable marker as "not committed", and a leftover temp file is
never read. Removal runs the protocol backwards (:func:`drop_below`):
marker first, data second, so an interrupted removal leaves an
unmarked directory that readers ignore, never a marked partial one.

A committed directory's row counts need no Spark job either:
:func:`footer_rows` sums them from the parquet footers on the driver.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Dict, Iterable, List, Optional
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

# marker file name inside a versioned directory
MARKER = "_OK"
# the write task's id in a Spark output file name (part-00003-<uuid>...)
_PART = re.compile(r"part-(\d+)")


def _unmark(marker: str) -> None:
    try:
        os.remove(marker)
    except FileNotFoundError:
        pass


def marker_info(marker: str) -> Optional[dict]:
    """The marker's JSON when its unit is committed, else None."""
    try:
        with open(marker, encoding="utf-8") as f:
            info = json.load(f)
    except (OSError, ValueError):
        return None
    return info if isinstance(info, dict) else None


def write(
    df: DataFrame, path: str, marker: str, partition_by: Optional[List[str]] = None
) -> int:
    """Marker off, then overwrite ``path`` with ``df``; -> the row count,
    from an ``observe()`` metric collected during the write."""
    _unmark(marker)
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(obs.get["rows"])


def footer_rows(files: Iterable[str]) -> Dict[int, int]:
    """Rows per write task of a written parquet directory, from the
    footers of its ``files`` (e.g. ``inputFiles()`` of the read-back),
    read on the driver: no Spark job. The key is the task id in the
    file name ``part-NNNNN``; a partitioned write leaves one file per
    task and partition value, summed under the task's key. Tasks that
    wrote no rows are left out."""
    out: Dict[int, int] = {}
    for f in files:
        path = unquote(urlparse(f).path) if f.startswith("file:") else f
        n = pq.read_metadata(path).num_rows
        if n:
            task = int(_PART.match(os.path.basename(path)).group(1))
            out[task] = out.get(task, 0) + n
    return out


def mark(marker: str, info: dict) -> None:
    """Marker on, atomically (temp file + ``os.replace``)."""
    tmp = f"{marker}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(info, f)
    os.replace(tmp, marker)


def dirs(root: str, prefix: str, committed: bool = False) -> Dict[int, str]:
    """``<root>/<prefix><n>`` directories by ``n``; with ``committed``
    only those whose ``_OK`` marker is committed."""
    if not os.path.isdir(root):
        return {}
    pat = re.compile(re.escape(prefix) + r"(\d+)")
    out = {}
    for name in os.listdir(root):
        m = pat.fullmatch(name)
        path = os.path.join(root, name)
        if m and (not committed or marker_info(os.path.join(path, MARKER))):
            out[int(m.group(1))] = path
    return out


def drop_below(root: str, prefix: str, floor: int) -> None:
    """Remove every ``<root>/<prefix><n>`` with ``n < floor``, committed
    or not (an unmarked one below a committed floor is a retired or
    abandoned write): marker first, data second."""
    for n, path in sorted(dirs(root, prefix).items()):
        if n < floor:
            _unmark(os.path.join(path, MARKER))
            shutil.rmtree(path, ignore_errors=True)
