"""The per-file EMBL parse (operators F2-F7, G1-G4, P1-P8, A3/A4).

The reference parses each EMBL file with one line-oriented state machine
(ena_build/parse_embl.py:444-570).  Here the same machine runs inside
one ``mapInArrow`` pass over the line scan:

* the JVM keeps only ``ID``/``FT``/``OC`` lines (F2) and ``coalesce``s
  the scan to at most ``defaultParallelism`` partitions;
* gzip cannot be split, so each member is one read split and a scan
  partition holds whole files in line order; ``coalesce`` only
  concatenates partitions, so each file's lines reach the pass
  contiguous and in order, and the machine resets when ``file``
  changes;
* the pass emits one row per record (G1: P1 header, F3-F6 reject
  reason) and one row per CDS block (G2: P5-P8 with F7, the G4 ordinal
  and the A3/A4 span resolved against its record).

Why ``coalesce``: every Python task pays a fixed worker set-up (about
0.15 CPU-s on a 4-core host, most of it pyspark's per-task
``importlib.invalidate_caches()``), whatever it processes.  Mapping all
50 scan partitions of a 250-file corpus made the build slower than the
windowed parser it replaces (perfbench ``embl_sequence_rejects``: 16.1
CPU-s against 3.3 with the ``coalesce``); at most
``defaultParallelism`` tasks keep every core busy.  ``coalesce(n)`` is
a no-op on a scan with fewer partitions.

``segment_lines`` is the pass; ``extract_records`` and
``extract_cds_blocks`` are projections of its output.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ena_database_build_spark.functions import embl as E
from ena_database_build_spark.functions.locations import parse_ranges, resolve_span

# Record rows have a NULL block_idx.  Block rows carry their record's
# ena_id and chr_struct only when the record is accepted (NULL otherwise);
# their reject_reason is the block's own.
_STRINGS = ArrayType(StringType())
PARSED_SCHEMA = StructType(
    [
        StructField(name, dtype)
        for name, dtype in [
            ("file", StringType()),
            ("record_idx", LongType()),
            ("block_idx", LongType()),
            ("ena_id", StringType()),
            ("chr_struct", IntegerType()),
            ("locus_num", IntegerType()),
            ("direction", IntegerType()),
            ("start", LongType()),
            ("end", LongType()),
            ("protein_ids", _STRINGS),
            ("uniprot_ids", _STRINGS),
            ("reject_reason", StringType()),
        ]
    ]
)
_ARROW_SCHEMA = to_arrow_schema(PARSED_SCHEMA)
INT64_MAX = 2**63 - 1

# The Column patterns of functions/embl.py; re.ASCII makes \d, \w and \s
# the ASCII classes Java regex uses.  One difference stays: Java's `.`
# also stops at \r, U+0085, U+2028 and U+2029, Python's only at \n, and
# the pass follows the reference's Python re.
_ID = re.compile(E.ID_LINE_PATTERN, re.ASCII).match
_FT_START = re.compile(E.FT_START_PATTERN, re.ASCII).match
_PROTEIN_ID = re.compile(E.PROTEIN_ID_PATTERN, re.ASCII).match
_UNIPROT_ID = re.compile(E.UNIPROT_XREF_PATTERN, re.ASCII).match


# --- line classifiers (the Column forms live in functions/embl.py) ---------

def parse_id(line: str) -> tuple[str, int, int, str | None]:
    """P1 + F4/F5: ``(ena_id, chr_struct, chr_len, reject_reason)`` with
    the dead-letter encoding ``('', -1, 0, reason)``."""
    m = _ID(line)
    if m is None:
        return "", -1, 0, "ill_formatted_id"
    ena_id, topology, length = m.groups()
    if topology not in ("linear", "circular"):
        return "", -1, 0, "unknown_topology"
    chr_len = int(length)
    if chr_len > INT64_MAX:
        return "", -1, 0, "chr_len_out_of_range"
    return ena_id, int(topology == "linear"), chr_len, None


def is_feature_start(line: str) -> bool:
    return _FT_START(line) is not None


def is_drop_taxonomy_line(line: str) -> bool:
    return (
        line.startswith("OC   ") and "Eukaryota" in line and " Fungi" not in line
    )


def protein_id(line: str) -> str | None:
    m = _PROTEIN_ID(line)
    return m and m.group(1)


def uniprot_id(line: str) -> str | None:
    m = _UNIPROT_ID(line)
    return m and m.group(1)


def location_string(parts: list[str]) -> str:
    """P7: a CDS's location lines joined, cut at the first ``/`` and
    stripped of ``FT ``/``CDS ``/newlines/spaces (parse_embl.py:129-132)."""
    out = "\n".join(parts).partition("/")[0]
    for sub in ("FT ", "CDS ", "\n", " "):
        out = out.replace(sub, "")
    return out


# --- the state machine --------------------------------------------------------

class _FileParser:
    """The reference state machine over one file's F2-kept lines, fed in
    line order; finished rows go to ``out`` as ``PARSED_SCHEMA`` tuples.

    ``record_idx`` counts the file's ID lines and ``block_idx`` its
    feature-start lines (G1/G2, parse_embl.py:494-559).  A CDS block is
    opened by an ``FT   CDS `` feature start inside a record and closed
    by the next feature start or ID line; its head and ``FT    ``
    continuation lines up to the first ``/`` form the location (P6/P7),
    and every such line may carry an xref (P2).  Lines before the first
    ID line belong to no record.
    """

    def __init__(self, file: str, out: list):
        self.file, self.out = file, out
        self.record_idx = self.block_idx = 0
        # [ena_id, chr_struct, chr_len, reason, fungi_dropped, loci, blocks]
        self.record = None
        # [block_idx, location parts, past the first "/", protein ids, uniprot ids]
        self.block = None

    def feed(self, lines: list[str]) -> None:
        record, block = self.record, self.block
        for line in lines:
            kind = line[0]
            if kind == "F":
                if line[5:6] == " ":  # "FT    " continuation
                    if block is None:
                        continue
                    if not block[2]:
                        loc, slash, _ = line.partition("/")
                        block[1].append(loc)
                        block[2] = slash == "/"
                    if "/" in line:
                        if (x := protein_id(line)) is not None:
                            block[3][x] = None
                        elif (x := uniprot_id(line)) is not None:
                            block[4][x] = None
                elif is_feature_start(line):
                    self.block_idx += 1
                    if block is not None:
                        self._close_block(block)
                    block = None
                    if record is not None and line.startswith("FT   CDS "):
                        loc, slash, _ = line.partition("/")
                        block = [self.block_idx, [loc], slash == "/", {}, {}]
            elif kind == "I":
                if block is not None:
                    self._close_block(block)
                    block = None
                if record is not None:
                    self._close_record()
                self.record_idx += 1
                record = self.record = [*parse_id(line), False, 0, []]
            elif record is not None and is_drop_taxonomy_line(line):
                record[4] = True  # F3 voids the whole record
        self.record, self.block = record, block

    def close(self) -> None:
        if self.block is not None:
            self._close_block(self.block)
            self.block = None
        if self.record is not None:
            self._close_record()
            self.record = None

    def _close_block(self, block: list) -> None:
        """F7 + G4: a block with no ``x..y`` range gets no ordinal."""
        block_idx, parts, _, pids, uids = block
        record = self.record
        loc = location_string(parts)
        ranges = parse_ranges(loc)
        locus_num, reason = None, None
        if not ranges:
            reason = "unparseable_cds_location"
        else:
            # the reference (Python ints) parses any length, so a block
            # past int64 keeps its ordinal but is rejected here
            record[5] += 1
            locus_num = record[5]
            if max(map(max, ranges)) > INT64_MAX:
                reason = "cds_location_out_of_range"
        direction = 0 if "complement" in loc else 1
        record[6].append(
            (block_idx, locus_num, direction, ranges, list(pids), list(uids), reason)
        )

    def _close_record(self) -> None:
        ena_id, chr_struct, chr_len, reason, fungi_dropped, _, blocks = self.record
        if fungi_dropped:
            reason = "non_fungi_eukaryote"
        file, record_idx, out = self.file, self.record_idx, self.out
        out.append((file, record_idx, None, ena_id, chr_struct,
                    None, None, None, None, None, None, reason))
        live = reason is None
        for block_idx, locus_num, direction, ranges, pids, uids, why in blocks:
            if live and why is None:
                start, end = resolve_span(ranges, chr_struct, chr_len)
                out.append((file, record_idx, block_idx, ena_id, chr_struct,
                            locus_num, direction, start, end, pids, uids, None))
            else:
                out.append((file, record_idx, block_idx, None, None,
                            locus_num, direction, None, None, pids, uids, why))


def _to_batch(rows: list) -> pa.RecordBatch:
    columns = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )


def _parse_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: (file, line) batches in scan order -> parsed
    rows, one state machine per run of equal ``file``."""
    parser, out = None, []
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        files = batch.column(0)
        # to_numpy().tolist() builds the str list ~9x faster than to_pylist()
        lines = batch.column(1).to_numpy(zero_copy_only=False).tolist()
        # run starts: row 0 and every row whose file differs from the last
        changed = pc.not_equal(files.slice(1), files.slice(0, n - 1))
        starts = [0, *(i + 1 for i in pc.indices_nonzero(changed).to_pylist()), n]
        for s, e in zip(starts, starts[1:]):
            file = files[s].as_py()
            if parser is None or parser.file != file:
                if parser is not None:
                    parser.close()
                parser = _FileParser(file, out)
            parser.feed(lines[s:e])
        if out:
            yield _to_batch(out)
            out.clear()
    if parser is not None:
        parser.close()
        if out:
            yield _to_batch(out)


def segment_lines(embl_lines: DataFrame) -> DataFrame:
    """The whole per-file parse: ``file, line`` rows (scan order, see
    ``read_embl_lines``) -> one ``PARSED_SCHEMA`` row per record and per
    CDS block."""
    n = embl_lines.sparkSession.sparkContext.defaultParallelism
    return (
        embl_lines.where(E.is_interesting_line(F.col("line")))
        .select("file", "line")
        .coalesce(n)
        .mapInArrow(_parse_partition, PARSED_SCHEMA)
    )


def extract_records(segmented: DataFrame) -> DataFrame:
    """One row per (file, record_idx): the parsed ID line (P1) and
    ``reject_reason`` (F3-F6) for the dead-letter channel."""
    return segmented.where(F.col("block_idx").isNull()).select(
        "file", "record_idx", "ena_id", "chr_struct", "reject_reason"
    )


def extract_cds_blocks(segmented: DataFrame) -> DataFrame:
    """One row per CDS block of every record: ``locus_num`` (G4, NULL
    when F7 drops the block), ``direction`` (P8), the resolved span
    (A3/A4) and the xref sets (P2, A1).  ``ena_id``/``chr_struct``/span
    are NULL on blocks of rejected records; ``reject_reason`` is the
    block's own (``unparseable_cds_location`` or
    ``cds_location_out_of_range``)."""
    return segmented.where(F.col("block_idx").isNotNull())
