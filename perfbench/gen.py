"""Planted-truth EMBL corpus generator.

From a workload name, a size and a seed, ``generate`` writes a corpus of
gzipped EMBL flat files (plus an idmapping parquet) and returns a
:class:`Plant` describing everything it planted: each record and its
fate, each CDS block with its ranges, strand and xrefs, the idmapping
pairs, and every malformed record and block.  ``oracle.py`` derives the
expected ``ena.tab`` from the plant without looking at the files.

Regenerate any corpus and its truth from a seed:

    python3 perfbench/gen.py --workload embl_idmap_heavy --seed 7 --out DIR

which writes ``corpus/``, ``idmapping.parquet``, ``plant.json`` and
``expected.json`` (the oracle's rows and dead-letter channels) under
``--out``.
"""

from __future__ import annotations

import argparse
import gzip
import json
import random
from dataclasses import asdict, dataclass, field
from pathlib import Path

AA = "ACDEFGHIKLMNPQRSTVWY"
NT = "acgt"


@dataclass
class Cds:
    block_idx: int  # file-level ordinal of the block's feature-start line
    ranges: list[tuple[int, int]]  # [] = no x..y range (unparseable)
    complement: bool
    protein_ids: list[str]  # as written; may repeat
    uniprot_ids: list[str]  # parsed /db_xref UniProtKB accessions


@dataclass
class Record:
    idx: int  # 1-based ordinal of the ID line in its file
    ena_id: str
    reject: str | None  # ill_formatted_id | unknown_topology | non_fungi_eukaryote
    chr_struct: int  # 1 = linear, 0 = circular
    chr_len: int
    cds: list[Cds] = field(default_factory=list)


@dataclass
class PlantedFile:
    path: str  # relative to the corpus root
    kept: bool  # passes the sequence/ division filter
    source_dir: str
    records: list[Record] = field(default_factory=list)


@dataclass
class Plant:
    workload: str
    seed: int
    files: list[PlantedFile]
    idmapping: list[tuple[str, str]]  # planted hit pairs, duplicates included
    decoys: int  # extra idmapping rows whose foreign ids appear nowhere
    slice_dir: str  # corpus sub-directory used for the cold set-up build


@dataclass(frozen=True)
class Shape:
    """Input make-up of one workload at one size."""

    files: int
    records: tuple[int, int]  # per file, inclusive range
    cds: tuple[int, int]  # per record
    pids: tuple[int, int]  # /protein_id lines per CDS
    translation: tuple[int, int]  # /translation continuation lines (0 = none)
    seq_lines: tuple[int, int]  # nucleotide lines per record (dropped by F2)
    bad_record: float  # share of records planted malformed
    bad_block: float  # share of CDS blocks planted unparseable
    mapped: float  # share of protein ids with an idmapping hit
    decoys: int
    layouts: str  # "wgs" or "mixed" (wgs/ and sequence/ trees)


SHAPES = {
    "embl_idmap_heavy": {
        "full": Shape(16, (30, 40), (6, 12), (2, 4), (0, 0), (0, 0),
                      0.02, 0.02, 0.6, 400_000, "wgs"),
        "tiny": Shape(3, (3, 5), (3, 6), (2, 4), (0, 0), (0, 0),
                      0.1, 0.1, 0.6, 20_000, "wgs"),
    },
    "embl_sequence_rejects": {
        "full": Shape(250, (3, 7), (1, 4), (0, 2), (0, 2), (1, 2),
                      0.3, 0.25, 0.4, 0, "mixed"),
        "tiny": Shape(12, (2, 4), (1, 3), (0, 2), (0, 1), (1, 1),
                      0.3, 0.25, 0.4, 0, "mixed"),
    },
}
# payload-bearing wgs records for the truncated member
TRUNCATED = Shape(1, (40, 40), (1, 5), (0, 1), (2, 8), (4, 12),
                  0.03, 0.03, 0.0, 0, "wgs")

# sequence/ layouts: (sub-directory, file-name tag).  The filter is
# case-sensitive, so a lower-case "_pro_" tag is dropped; 4 of 7 are kept.
SEQUENCE_LAYOUTS = [
    ("std", "STD_PRO"),
    ("std", "STD_HUM"),
    ("con", "CON_ENV"),
    ("tsa", "TSA_FUN"),
    ("tsa", "TSA_MAM"),
    ("pat", "PAT_PHG"),
    ("pat", "PAT_pro"),
]


def source_dir_of(rel: str) -> str:
    parts = rel.split("/")
    if parts[0] == "wgs":
        return "-".join(parts[:3])
    return "-".join(parts[:2])


def kept_by_division_filter(rel: str) -> bool:
    parts = rel.split("/")
    if "sequence" not in "/".join(parts[:-1]):
        return True
    return any(f"_{d}_" in parts[-1] for d in ("ENV", "PRO", "FUN", "PHG"))


class _Writer:
    """Emits one file's lines and counts feature-start lines (block_idx)."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.blocks = 0

    def feature(self, key: str, loc_lines: list[str]) -> int:
        self.blocks += 1
        self.lines.append(f"FT   {key:<16}{loc_lines[0]}")
        for cont in loc_lines[1:]:
            self.lines.append(f"FT                   {cont}")
        return self.blocks

    def qual(self, text: str) -> None:
        self.lines.append(f"FT                   {text}")


def _location(rng: random.Random, chr_len: int, circular: bool):
    """Planted ranges plus the location text that must parse to them."""
    roll = rng.random()
    if circular and roll < 0.25:
        # origin-spanning join: parts on both sides of position 1
        a = rng.randint(chr_len - 400, chr_len - 50)
        b = rng.randint(2, 300)
        ranges = [(a, chr_len), (1, b)]
    elif circular and roll < 0.35:
        # inner gap equal to the wrap gap: the tie goes to the wrap gap
        a = rng.randint(1, 200)
        b = a + rng.randint(20, 200)
        d = chr_len - rng.randint(0, 200)
        c = b + 1 + (chr_len - d) + (a - 1)  # c < d since chr_len >= 3000
        ranges = [(a, b), (c, d)]
    else:
        n = 1 if rng.random() < 0.6 else rng.randint(2, 4)
        ranges = []
        for _ in range(n):
            s = rng.randint(1, max(1, chr_len - 200))
            ranges.append((s, s + rng.randint(9, 199)))
        if n > 1 and rng.random() < 0.5:
            rng.shuffle(ranges)  # unsorted join: stable sort by start decides
    parts = [f"{s}..{e}" for s, e in ranges]
    style = rng.random()
    if len(parts) == 1 and style < 0.1:
        parts[0] = "<" + parts[0]
    elif len(parts) == 1 and style < 0.2:
        s, e = ranges[0]
        parts[0] = f"{s}..>{e}"
    elif len(parts) > 1 and style < 0.15:
        parts.insert(1, str(rng.randint(1, chr_len)))  # single base: no range
    text = parts[0] if len(parts) == 1 else "join(" + ",".join(parts) + ")"
    complement = rng.random() < 0.4
    if complement:
        text = f"complement({text})"
    return ranges, complement, text


_BAD_LOCATIONS = ["467", "102.110", "123^124", "complement(88)", "join(5,9)"]


def _wrap(text: str, width: int = 40) -> list[str]:
    """Split a location over continuation lines at commas."""
    if len(text) <= width or "," not in text:
        return [text]
    out, cur = [], ""
    for piece in text.split(","):
        if cur and len(cur) + len(piece) + 1 > width:
            out.append(cur + ",")
            cur = piece
        else:
            cur = piece if not cur else cur + "," + piece
    out.append(cur)
    return out


def _record(rng, w: _Writer, shape: Shape, pools, prefix: str, fi: int,
            ri: int, mapping: list, pid_serial: list) -> Record:
    ena_id = f"{prefix}{fi:04d}{ri:05d}"
    circular = rng.random() < 0.3
    chr_len = rng.randint(3_000, 60_000)
    topo = "circular" if circular else "linear"
    reject = None
    oc = ["OC   Bacteria; Pseudomonadota; Gammaproteobacteria."]
    roll = rng.random()
    if roll < shape.bad_record:
        kind = rng.randrange(4)
        if kind == 0:
            reject = "ill_formatted_id"
        elif kind == 1:
            reject = "unknown_topology"
            topo = "XXX"
        elif kind == 2:
            reject = "non_fungi_eukaryote"
            oc = ["OC   Eukaryota; Metazoa; Chordata."]
        else:
            # the gate is per line: Eukaryota and Fungi on separate lines
            reject = "non_fungi_eukaryote"
            oc = ["OC   Eukaryota; Opisthokonta;", "OC   Fungi; Dikarya."]
    elif roll < shape.bad_record + 0.05:
        oc = ["OC   Eukaryota; Fungi; Dikarya; Ascomycota."]
    if reject == "ill_formatted_id":
        w.lines.append(f"ID   {ena_id}; SV 1; {topo}; genomic DNA; WGS; PRO;")
    else:
        w.lines.append(
            f"ID   {ena_id}; SV 1; {topo}; genomic DNA; WGS; PRO; {chr_len} BP."
        )
    w.lines += ["XX", f"AC   {ena_id};", "XX", "DE   synthetic record", "XX",
                "OS   synthetic organism", *oc, "XX",
                "FH   Key             Location/Qualifiers", "FH"]
    rec = Record(ri + 1, ena_id, reject, 0 if circular else 1, chr_len)
    w.feature("source", [f"1..{chr_len}"])
    w.qual('/organism="synthetic organism"')
    w.qual('/mol_type="genomic DNA"')
    for ci in range(rng.randint(*shape.cds)):
        if rng.random() < 0.2:
            # non-CDS feature carrying an xref: must be ignored
            g = rng.randint(1, chr_len - 100)
            w.feature("gene", [f"{g}..{g + 90}"])
            w.qual(f'/db_xref="UniProtKB/TrEMBL:GENE{fi:04d}{ri:04d}{ci}"')
        if rng.random() < shape.bad_block:
            ranges, complement = [], False
            text = rng.choice(_BAD_LOCATIONS)
        else:
            ranges, complement, text = _location(rng, chr_len, circular)
        block = w.feature("CDS", _wrap(text))
        w.qual("/codon_start=1")
        w.qual(f'/locus_tag="LT_{fi}_{ri}_{ci}"')
        pids, block_uids = [], []
        for _ in range(rng.randint(*shape.pids)):
            if pids and rng.random() < 0.1:
                pid = pids[0]  # repeated within the block: a set member once
            else:
                pid_serial[0] += 1
                pid = f"{prefix}P{pid_serial[0]:08d}.1"
                roll = rng.random()
                if roll < shape.mapped:
                    n = 1 if roll < shape.mapped * 0.5 else rng.randint(2, 3)
                    if block_uids and rng.random() < 0.2:
                        # two protein ids of one block share a uniprot id
                        mapping.append((pid, rng.choice(block_uids)))
                    for k in range(n):
                        block_uids.append(f"{prefix}U{pid_serial[0]:08d}{k}")
                        mapping.append((pid, block_uids[-1]))
                    if rng.random() < 0.05:
                        mapping.append(mapping[-1])  # duplicate pair
            pids.append(pid)
            w.qual(f'/protein_id="{pid}"')
        uids = []
        for k in range(rng.choice((0, 0, 1, 1, 2))):
            uids.append(f"{prefix}X{fi:04d}{ri:04d}{ci:02d}{k}")
            w.qual(f'/db_xref="UniProtKB/TrEMBL:{uids[-1]}"')
        n_tr = rng.randint(*shape.translation)
        if n_tr:
            w.qual('/translation="' + pools["aa"][rng.randrange(len(pools["aa"]))])
            for _ in range(n_tr - 1):
                w.qual(pools["aa"][rng.randrange(len(pools["aa"]))])
            w.qual('MKL"')
        rec.cds.append(Cds(block, ranges, complement, pids, uids))
    w.lines += ["XX", f"SQ   Sequence {chr_len} BP;"]
    for _ in range(rng.randint(*shape.seq_lines)):
        w.lines.append("     " + pools["nt"][rng.randrange(len(pools["nt"]))])
    w.lines.append("//")
    return rec


def _gzip(lines: list[str]) -> bytes:
    """Byte-identical for identical lines (no timestamp in the header)."""
    return gzip.compress(("\n".join(lines) + "\n").encode(), 6, mtime=0)


def _paths(shape: Shape, prefix: str) -> list[str]:
    """File layout; the same for every seed, so the share of filtered
    files (and so the work per build) does not vary with the seed."""
    out = []
    for fi in range(shape.files):
        if shape.layouts == "wgs" or fi % 2 == 0:
            shard = f"w{fi % 8:02d}" if shape.layouts == "mixed" else f"s{fi % 12:02d}"
            group = "public" if fi % 5 else "suppressed"
            out.append(f"wgs/{group}/{shard}/{prefix}{fi:04d}.dat.gz")
        else:
            sub, tag = SEQUENCE_LAYOUTS[(fi // 2) % len(SEQUENCE_LAYOUTS)]
            out.append(f"sequence/{sub}/rel_{tag}_{fi:04d}_r1.dat.gz")
    return out


def generate(workload: str, seed: int, size: str, root: Path) -> Plant:
    """Write the workload's corpus under ``root/corpus`` and its idmapping
    at ``root/idmapping.parquet``; return what was planted."""
    shape = SHAPES[workload][size]
    rng = random.Random(f"{workload}:{seed}")
    prefix = "".join(p[0].upper() for p in workload.split("_")[1:])
    pools = {
        "aa": ["".join(rng.choice(AA) for _ in range(60)) for _ in range(64)],
        "nt": [" ".join("".join(rng.choice(NT) for _ in range(10))
                        for _ in range(6)) for _ in range(64)],
    }
    corpus = root / "corpus"
    files, mapping, pid_serial = [], [], [0]
    for fi, rel in enumerate(_paths(shape, prefix)):
        w = _Writer()
        pf = PlantedFile(rel, kept_by_division_filter(rel), source_dir_of(rel))
        for ri in range(rng.randint(*shape.records)):
            pf.records.append(
                _record(rng, w, shape, pools, prefix, fi, ri, mapping, pid_serial)
            )
        path = corpus / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(_gzip(w.lines))
        files.append(pf)
    write_idmapping(root / "idmapping.parquet", mapping, shape.decoys, prefix)
    slice_dir = str(Path(files[0].path).parent)
    return Plant(workload, seed, files, mapping, shape.decoys, slice_dir)


def write_idmapping(path: Path, pairs: list[tuple[str, str]], decoys: int,
                    prefix: str) -> None:
    """Planted pairs followed by ``decoys`` rows whose foreign ids never
    occur in the corpus (built with Arrow compute, not Python lists).

    Written uncompressed: the planner estimates a parquet relation's size
    from its files, and the decoys must put the mapping above the 8 MB
    broadcast threshold (400,000 decoys: 11 MB uncompressed, 4 MB with
    snappy)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = pa.array(range(decoys), pa.int64()).cast(pa.string())
    decoy_fid = pc.binary_join_element_wise(f"{prefix}D", n, ".1", "")
    decoy_uid = pc.binary_join_element_wise(f"{prefix}Q", n, "")
    table = pa.table({
        "foreign_id": pa.concat_arrays(
            [pa.array([p[0] for p in pairs], pa.string()), decoy_fid]),
        "uniprot_id": pa.concat_arrays(
            [pa.array([p[1] for p in pairs], pa.string()), decoy_uid]),
    })
    pq.write_table(table, path, compression="none")


def write_truncated_member(root: Path) -> Path:
    """A seed-independent wgs member whose gzip stream is cut in half.

    A build that reads it cannot complete today; a build that isolates
    it must still produce exactly the intact files' rows."""
    rng = random.Random("truncated-member")
    w = _Writer()
    pools = {"aa": ["M" * 60], "nt": ["acgt" * 15]}
    for ri in range(TRUNCATED.records[0]):
        _record(rng, w, TRUNCATED, pools, "TRN", 0, ri, [], [0])
    data = _gzip(w.lines)
    path = root / "wgs" / "public" / "trn" / "TRN0000.dat.gz"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data[: len(data) // 2])
    return path


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(SHAPES))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--size", default="full", choices=["full", "tiny"])
    parser.add_argument("--out", required=True, type=Path)
    args = parser.parse_args()
    from oracle import expected  # noqa: PLC0415 — sibling module, run as a script

    plant = generate(args.workload, args.seed, args.size, args.out)
    (args.out / "plant.json").write_text(json.dumps(asdict(plant)))
    exp = expected(plant)
    (args.out / "expected.json").write_text(json.dumps({
        "rows": sorted("\t".join(r) for r in exp.rows.elements()),
        "rejected_records": sorted("\t".join(r) for r in exp.rejected_records),
        "rejected_blocks": sorted("\t".join(r) for r in exp.rejected_blocks),
    }))
    print(json.dumps(describe(plant, args.out)))


def describe(plant: Plant, root: Path) -> dict:
    """Input make-up, as recorded in the README."""
    recs = [r for f in plant.files for r in f.records]
    cds = [c for r in recs for c in r.cds]
    gz = sum(p.stat().st_size for p in (root / "corpus").rglob("*.dat.gz"))
    return {
        "files": len(plant.files),
        "files_filtered": sum(not f.kept for f in plant.files),
        "gzip_bytes": gz,
        "records": len(recs),
        "records_rejected": sum(r.reject is not None for r in recs),
        "cds": len(cds),
        "cds_unparseable": sum(not c.ranges for c in cds),
        "idmapping_rows": len(plant.idmapping) + plant.decoys,
    }


if __name__ == "__main__":
    main()
