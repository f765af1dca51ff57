"""In-cluster zip decompression — the one genuinely custom operator.

Reference behavior (SURVEY.md §2A R9/R10): shell out to ``7z e`` on a
downloaded archive, then scan the temp folder for the entry whose name
contains ``.bak`` (`src/bak_unload.ps1:73-87`). Spark has no codec for
arbitrary zip archives, so this is the engine's only Python stage: a
``mapInPandas`` over the ``binaryFile`` source — each executor decompresses
the archives in its own partition; nothing round-trips through the driver.

The payload pick (R10) happens inside the same stage. An archive is one
input row, so "the last match per archive" is a per-row choice: read the
central directory, keep the entries whose name is the max matching name,
and decompress only those. No join, no shuffle, and the non-payload
entries are never inflated.

Scale notes (100 TB): one archive = one task input row, so archives
parallelize across executors naturally. Entry bytes are materialized per
batch; for multi-GB entries the pattern is the reference's own F:-drive
trick (`src/bak_unload.ps1:13-15`) — stream ``zipfile``'s file handle to
executor-local disk and emit the local path instead of bytes. The bytes
variant below is correct for snapshot-sized payloads and keeps the data in
the DataFrame; both shapes share the same schema contract.
"""

from __future__ import annotations

import functools
import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

ENTRY_SCHEMA = (
    "archive_path string, entry_name string, entry_size long, entry_bytes binary"
)


def _payload_entries(
    infos: list[zipfile.ZipInfo], pattern: str
) -> list[zipfile.ZipInfo]:
    """R10: the entries named like the LAST match of ``pattern``.

    The reference's loop keeps the last match (`src/bak_unload.ps1:81-87`,
    last-writer-wins); with names sorted that is the lexicographic max.
    Every entry carrying that name is kept, so an archive with duplicate
    names yields all of them.
    """
    matches = [i for i in infos if pattern in i.filename]
    if not matches:
        return []
    last = max(i.filename for i in matches)
    return [i for i in matches if i.filename == last]


def _explode_archives(
    batches: Iterator[pd.DataFrame], pattern: str | None = None
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {
            "archive_path": [],
            "entry_name": [],
            "entry_size": [],
            "entry_bytes": [],
        }
        for path, content in zip(pdf["path"], pdf["content"]):
            with zipfile.ZipFile(io.BytesIO(content)) as zf:
                infos = [i for i in zf.infolist() if not i.is_dir()]
                if pattern is not None:
                    infos = _payload_entries(infos, pattern)
                for info in infos:
                    out["archive_path"].append(path)
                    out["entry_name"].append(info.filename)
                    out["entry_size"].append(info.file_size)
                    out["entry_bytes"].append(zf.read(info))
        yield pd.DataFrame(out)


def unzip_entries(archives: DataFrame, pattern: str | None = None) -> DataFrame:
    """R9 (+R10): archive rows (``path``, ``content``) → one row per entry.

    Without ``pattern`` every non-directory entry comes out. With it, only
    the payload comes out: per archive, the entries whose name is the max
    name containing ``pattern`` (none when nothing matches).

    Arrow-batched ``mapInPandas`` (not a row-at-a-time UDF); runs where the
    data lives.
    """
    return archives.select("path", "content").mapInPandas(
        functools.partial(_explode_archives, pattern=pattern), schema=ENTRY_SCHEMA
    )
