"""First-class ``osm_xml`` format — Spark 4 Python Data Source API.

``parse_osm_xml`` (osm_xml.py) distributes the reference's iterparse
ETL through ``spark.read.text`` + the package's Python row seam
(``scale.map_rows``, one ``mapInArrow`` pass).  This module
exposes the SAME parser as a registered source, so the five shaped
OSM relations read like any built-in format:

    spark.dataSource.register(OsmXmlDataSource)
    nodes = (spark.read.format("osm_xml")
             .option("table", "nodes")
             .option("numPartitions", "8")
             .load("/path/extract.osm"))

The reader implements the parallel-read design a native FileFormat
uses, in pure Python:

* ``partitions()`` cuts the file into N byte ranges — the planner
  sees real InputPartitions, so tasks schedule across the cluster
  exactly like parquet splits.
* Each task aligns its range to element boundaries with the SAME
  "\\n  <" nesting-level-2 marker the lineSep scan uses (osmosis /
  API layout, see osm_xml.py's layout note): a boundary whose
  newline offset falls in [start, end) is OWNED by the task, and its
  fragment runs to the NEXT boundary wherever that falls — so every
  element is parsed exactly once with no coordination, the standard
  split-alignment contract of record readers over splittable text.
* Scanning is chunked (1 MiB reads, buffer compacted to the open
  fragment) — per-task memory is bounded by one element plus one
  chunk, the distributed analog of iterparse+clear.

Fragments then flow through osm_xml._tagged_rows — one parser and
one row shape, two transports — so the data source is
equivalence-tested against parse_osm_xml row-for-row
(tests/test_osm_datasource.py, at several partition counts including
ranges that cut mid-element).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from .osm_xml import _TABLE_SCHEMAS, _TAGGED_COLS, _fields, _tagged_rows

_MARKER = b"\n  <"
_CHUNK = 1 << 20


class _ByteRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _iter_owned(path: str, start: int, end: int) -> Iterator[bytes]:
    """Yield the raw bytes of every fragment whose boundary marker
    newline sits in [start, end); each fragment extends to the next
    marker (or EOF), possibly past ``end``."""
    with open(path, "rb") as f:
        f.seek(start)
        buf = b""
        off = start  # absolute file offset of buf[0]
        pending: int | None = None  # abs offset of the open fragment body
        while True:
            chunk = f.read(_CHUNK)
            if chunk:
                buf += chunk
            search_from = 0
            while True:
                i = buf.find(_MARKER, search_from)
                if i < 0:
                    break
                m_off = off + i
                if pending is not None:
                    yield buf[pending - off : i]
                    pending = None
                if m_off >= end:
                    return
                pending = m_off + len(_MARKER)
                search_from = i + len(_MARKER)
            # compact: keep the open fragment, else just a marker tail
            keep_abs = (
                pending
                if pending is not None
                else off + max(0, len(buf) - (len(_MARKER) - 1))
            )
            buf = buf[keep_abs - off :]
            off = keep_abs
            if not chunk:
                if pending is not None:
                    yield buf  # last fragment runs to EOF
                return


def _table_option(options: dict) -> str:
    """The ``table`` option (default ``nodes``), checked against the
    eight shaped relations."""
    table = options.get("table", "nodes")
    if table not in _TABLE_SCHEMAS:
        raise ValueError(
            f"osm_xml: unknown table {table!r}; "
            f"one of {sorted(_TABLE_SCHEMAS)}"
        )
    return table


def _shape_rows(frags: Iterator[bytes], table: str):
    """Fragment bytes → output tuples for one relation — the one
    shaper both the batch byte-range reader and the streaming
    file-drop reader run: the relation's columns projected out of the
    same tagged rows the row-seam parse emits."""
    at = [_TAGGED_COLS.index(c) for c, _ in _fields(_TABLE_SCHEMAS[table])]
    for frag in frags:
        for row in _tagged_rows(frag.decode("utf-8", errors="replace")):
            if row[0] == table:
                yield tuple(row[i] for i in at)


class OsmXmlReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osm_xml: a .load(<path>) is required")
        self.table = _table_option(options)
        self.n_parts = max(1, int(options.get("numPartitions", "8")))

    def partitions(self):
        size = os.path.getsize(self.path)
        step = max(1, size // self.n_parts)
        cuts = list(range(0, size, step))[: self.n_parts] + [size]
        return [_ByteRange(s, e) for s, e in zip(cuts, cuts[1:]) if s < e]

    def read(self, partition: _ByteRange):
        yield from _shape_rows(
            _iter_owned(self.path, partition.start, partition.end), self.table
        )


class OsmXmlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "osm_xml"

    def schema(self) -> str:
        return _TABLE_SCHEMAS[_table_option(self.options)]

    def reader(self, schema) -> OsmXmlReader:
        return OsmXmlReader(dict(self.options))

    def simpleStreamReader(self, schema) -> "OsmXmlStreamReader":
        return OsmXmlStreamReader(dict(self.options))


# ---------------------------------------------------------------------------
# Streaming: file-drop ingestion from the same parser

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


def _rows_from_file(path: str, table: str):
    """Every row of ``table`` in one OSM file — the shared shaper
    over a single whole-file range."""
    size = os.path.getsize(path)
    yield from _shape_rows(_iter_owned(path, 0, size), table)


class OsmXmlStreamReader(SimpleDataSourceStreamReader):
    """File-drop streaming: each micro-batch ingests the ``*.osm``
    files that appeared in the watched directory since the last
    offset.  The offset is the sorted, newline-joined list of
    finished file names — files are the atomic unit (drop complete
    extracts, the osmosis convention), so ``readBetweenOffsets``
    replays any committed batch bit-for-bit from the name-set
    difference, which is what makes restart recovery deterministic.

    SimpleDataSourceStreamReader reads on the driver by design
    (Spark's documented contract for the simple variant) — right for
    the incremental-drop rates this models; a bulk backfill uses the
    batch ``osm_xml`` format's byte-range partitions instead."""

    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("osm_xml stream: a .load(<dir>) is required")
        self.table = _table_option(options)

    def _listing(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.dir) if n.endswith(".osm")
        )

    def initialOffset(self) -> dict:
        return {"files": ""}

    def _emit(self, names: list[str]) -> list[tuple]:
        # a LIST, not a generator: the simple-reader contract pickles
        # the batch's records into the streaming cache for replay
        rows: list[tuple] = []
        for n in names:
            rows.extend(_rows_from_file(os.path.join(self.dir, n), self.table))
        return rows

    def read(self, start: dict):
        seen = set(start["files"].split("\n")) - {""}
        now = self._listing()
        new = [n for n in now if n not in seen]
        end = {"files": "\n".join(sorted(seen | set(new)))}
        return iter(self._emit(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start["files"].split("\n")) - {""}
        upto = set(end["files"].split("\n")) - {""}
        return iter(self._emit(sorted(upto - seen)))

    def commit(self, end: dict) -> None:
        pass
