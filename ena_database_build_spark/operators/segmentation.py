"""The per-file EMBL parse (operators F2-F7, G1-G4, P1-P8, A3/A4).

The reference hands each EMBL file to one worker, which opens it and
runs one line-oriented state machine over it
(ena_build/parse_embl.py:444-570, 482-484).  Here the same happens
inside one ``mapInArrow`` pass over the member listing of
``read_embl_lines``:

* the listing is ``coalesce``d to at most ``defaultParallelism``
  partitions, and each Python task opens its members one at a time;
* a member is first decoded to the end of its gzip stream: a cut or
  corrupt member gives one file row (its dead letter) and nothing else;
* an intact member is then read in text mode (universal newlines,
  undecodable bytes replaced) and the machine keeps only
  ``ID``/``FT``/``OC`` lines (F2), emitting one row per record (G1: P1
  header, F3-F6 reject reason) and one row per CDS block (G2: P5-P8
  with F7, the G4 ordinal and the A3/A4 span resolved against its
  record).  It holds one record at a time, whatever the member's size.

Why ``coalesce``: every Python task pays a fixed worker set-up (about
0.15 CPU-s on a 4-core host, most of it pyspark's per-task
``importlib.invalidate_caches()``), whatever it processes.  Mapping all
50 scan partitions of a 250-file corpus made the build slower than the
windowed parser the pass replaced (perfbench ``embl_sequence_rejects``:
16.1 CPU-s against 3.3 with the ``coalesce``); at most
``defaultParallelism`` tasks keep every core busy.  ``coalesce(n)`` is
a no-op on a listing with fewer partitions.

``segment_lines`` is the pass; ``extract_records`` and
``extract_cds_blocks`` are projections of its output.
"""

from __future__ import annotations

import gzip
import re
import zlib
from collections.abc import Iterable, Iterator
from itertools import chain, islice
from urllib.parse import unquote, urlsplit

import pyarrow as pa
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
# their reject_reason is the block's own.  A bad member's one file row
# has a NULL record_idx and block_idx, and reject_reason truncated_gzip
# or corrupt_gzip.
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
# F2 (parse_embl.py:488-489)
_F2_PREFIXES = ("FT   ", "ID   ", "OC   ")
# rows per Arrow batch; batches span members, so a corpus of small
# members does not pay one Arrow batch per member
_BATCH_ROWS = 8192

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

def _close_block(block: list, record: list) -> None:
    """F7 + G4: a block with no ``x..y`` range gets no ordinal."""
    block_idx, parts, _, pids, uids = block
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


def _record_rows(file: str, record_idx: int, record: list) -> Iterator[tuple]:
    ena_id, chr_struct, chr_len, reason, fungi_dropped, _, blocks = record
    if fungi_dropped:
        reason = "non_fungi_eukaryote"
    yield (file, record_idx, None, ena_id, chr_struct,
           None, None, None, None, None, None, reason)
    live = reason is None
    for block_idx, locus_num, direction, ranges, pids, uids, why in blocks:
        if live and why is None:
            start, end = resolve_span(ranges, chr_struct, chr_len)
            yield (file, record_idx, block_idx, ena_id, chr_struct,
                   locus_num, direction, start, end, pids, uids, None)
        else:
            yield (file, record_idx, block_idx, None, None,
                   locus_num, direction, None, None, pids, uids, why)


def _parse_member(file: str, lines: Iterable[str]) -> Iterator[tuple]:
    """The reference state machine over one member's lines, in order:
    its ``PARSED_SCHEMA`` rows, each record's after its last line.

    F2 keeps only ``ID``/``FT``/``OC`` lines.  ``record_idx`` counts the
    member's ID lines and ``block_idx`` its feature-start lines (G1/G2,
    parse_embl.py:494-559).  A CDS block is opened by an ``FT   CDS ``
    feature start inside a record and closed by the next feature start
    or ID line; its head and ``FT    `` continuation lines up to the
    first ``/`` form the location (P6/P7), and every such line may carry
    an xref (P2).  Lines before the first ID line belong to no record.
    """
    record_idx = block_idx = 0
    # [ena_id, chr_struct, chr_len, reason, fungi_dropped, loci, blocks]
    record = None
    # [block_idx, location parts, past the first "/", protein ids, uniprot ids]
    block = None
    for line in lines:
        if not line.startswith(_F2_PREFIXES):
            continue
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
                block_idx += 1
                if block is not None:
                    _close_block(block, record)
                block = None
                if record is not None and line.startswith("FT   CDS "):
                    loc, slash, _ = line.partition("/")
                    block = [block_idx, [loc], slash == "/", {}, {}]
        elif kind == "I":
            if block is not None:
                _close_block(block, record)
                block = None
            if record is not None:
                yield from _record_rows(file, record_idx, record)
            record_idx += 1
            record = [*parse_id(line), False, 0, []]
        elif record is not None and is_drop_taxonomy_line(line):
            record[4] = True  # F3 voids the whole record
    if block is not None:
        _close_block(block, record)
    if record is not None:
        yield from _record_rows(file, record_idx, record)


def _gzip_fault(path: str) -> str | None:
    """The dead-letter reason of a member whose gzip stream does not
    decode to its end, or None.  Decoding it whole before parsing keeps
    a cut member's rows out of every channel without holding them."""
    try:
        with gzip.open(path, "rb") as f:
            while f.read(1 << 20):
                pass
    except EOFError:
        return "truncated_gzip"
    except (gzip.BadGzipFile, zlib.error):
        return "corrupt_gzip"
    return None


def _parse_file(file: str) -> Iterator[tuple]:
    """One listed member (a URL-encoded ``file:`` URI): one file row
    when its gzip stream is bad, else its parsed rows."""
    path = unquote(urlsplit(file).path)
    reason = _gzip_fault(path)
    if reason is not None:
        yield (file, *[None] * 10, reason)
        return
    # text mode: universal newlines, as the reference's gzip.open
    with gzip.open(path, "rt", encoding="utf-8", errors="replace") as lines:
        yield from _parse_member(file, lines)


def _to_batch(rows: list) -> pa.RecordBatch:
    columns = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )


def _parse_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: listed members -> parsed rows, in Arrow
    batches of up to ``_BATCH_ROWS`` rows that span members."""
    files = (file for batch in batches for file in batch.column(0).to_pylist())
    rows = chain.from_iterable(map(_parse_file, files))
    while chunk := list(islice(rows, _BATCH_ROWS)):
        yield _to_batch(chunk)


def segment_lines(embl_lines: DataFrame) -> DataFrame:
    """The whole per-file parse: the member listing of
    ``read_embl_lines`` -> one ``PARSED_SCHEMA`` row per record, per CDS
    block and per bad member."""
    n = embl_lines.sparkSession.sparkContext.defaultParallelism
    return (
        embl_lines.select("file")
        .coalesce(n)
        .mapInArrow(_parse_partition, PARSED_SCHEMA)
    )


def extract_records(segmented: DataFrame) -> DataFrame:
    """One row per (file, record_idx): the parsed ID line (P1) and
    ``reject_reason`` (F3-F6) for the dead-letter channel."""
    return segmented.where(
        F.col("record_idx").isNotNull() & F.col("block_idx").isNull()
    ).select(
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
