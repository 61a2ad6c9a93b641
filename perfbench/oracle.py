"""Pure-Python oracle: the expected ``ena.tab`` of a planted corpus.

Imports nothing from the package under test.  It reads the plant (what
``gen.py`` wrote, as records and CDS blocks with their ranges) and
applies the reference semantics (SURVEY.md §2.5 and §2.10):

* chr_struct 1 = linear, 0 = circular;
* linear span = min/max over every range endpoint; circular span (A4):
  stable sort by start, and an inner gap must be strictly greater than
  the wrap gap and every earlier gap to mark the origin crossing, so a
  tie goes to the wrap gap and ``end < start`` is legal;
* locus ordinals count only blocks with at least one ``x..y`` range;
* a locus whose protein ids hit the idmapping emits exactly the mapped
  ids (one row per distinct (protein id, uniprot id) pair, so a uniprot
  id reached from two protein ids appears twice); otherwise it falls
  back to its parsed UniProtKB xrefs; with neither it emits nothing;
* no global de-duplication of output rows.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass


def resolve_span(ranges, chr_struct: int, chr_len: int) -> tuple[int, int]:
    """A3/A4: one (start, end) for a CDS's ranges."""
    if chr_struct != 0:
        flat = [v for r in ranges for v in r]
        return min(flat), max(flat)
    r = sorted(ranges, key=lambda x: x[0])  # stable, like the reference
    best_gap, best_i = (chr_len - r[-1][1]) + (r[0][0] - 1), None
    for i in range(len(r) - 1):
        gap = r[i + 1][0] - r[i][1] - 1
        if gap > best_gap:
            best_gap, best_i = gap, i
    if best_i is None:
        return r[0][0], r[-1][1]
    return r[best_i + 1][0], r[best_i][1]


@dataclass
class Expected:
    # (source_dir, ena_id, uniprot_id, locus_num, chr_struct, direction,
    #  start, end), all as the TSV writes them
    rows: Counter
    rejected_records: Counter  # (path, record_idx, reason)
    rejected_blocks: Counter  # (path, record_idx, block_idx, reason)
    filtered_ena_ids: set  # ena ids of files the division filter drops


def expected(plant, under: str | None = None) -> Expected:
    """Expected channels for the plant's files (only those whose path
    starts with ``under`` when given)."""
    mapping = defaultdict(set)
    for fid, uid in plant.idmapping:
        mapping[fid].add(uid)
    rows, rej_rec, rej_blk, filtered = Counter(), Counter(), Counter(), set()
    for f in plant.files:
        if under is not None and not f.path.startswith(under.rstrip("/") + "/"):
            continue
        if not f.kept:
            filtered.update(r.ena_id for r in f.records)
            continue
        for rec in f.records:
            if rec.reject:
                rej_rec[(f.path, str(rec.idx), rec.reject)] += 1
            locus = 0
            for cds in rec.cds:
                if not cds.ranges:
                    rej_blk[(f.path, str(rec.idx), str(cds.block_idx),
                             "unparseable_cds_location")] += 1
                    continue
                locus += 1
                if rec.reject:
                    continue
                mapped = [u for p in dict.fromkeys(cds.protein_ids)
                          for u in mapping.get(p, ())]
                ids = mapped or sorted(set(cds.uniprot_ids))
                start, end = resolve_span(cds.ranges, rec.chr_struct, rec.chr_len)
                direction = 0 if cds.complement else 1
                for uid in ids:
                    rows[(f.source_dir, rec.ena_id, uid, str(locus),
                          str(rec.chr_struct), str(direction), str(start),
                          str(end))] += 1
    return Expected(rows, rej_rec, rej_blk, filtered)
