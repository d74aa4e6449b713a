"""Seeded input generators for the benchmark.

Everything here is pure Python (stdlib, numpy, pyarrow): no Spark and no
import from the package under test, so a change to the program can never
change the inputs it is measured on. The read shapes copy those of the
repo's scale experiment (alignment, BQSR and realignment read classes
over a shared 200 bp contig) instead of importing them.

Two input families:

- ``read_records(seed)``: a coordinate-unsorted single-end BAM plus a parquet
  "truth" table with the generated per-read layout (for the DuckDB
  closed-form checks);
- ``tables()``: a seed-independent TPC-H-like star schema plus events,
  documents and embeddings, in the layout the contract queries read.
"""

from __future__ import annotations

import os
import random
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- genomics ----------------------------------------------------------------

#: the shared 200 bp contig of the realignment/MD-tagging read shapes
_md_rng = random.Random(7)
_MD_CONTIG = "".join(_md_rng.choice("ACGT") for _ in range(200))
N_CONTIGS = 8
CONTIG_LEN = 6000
READ_GROUPS = [("rg0", "lib0"), ("rg1", "lib0"), ("rg2", "lib1")]


def reference() -> dict[str, str]:
    """Seed-independent reference: every contig opens with the shared
    contig (where the indel piles sit) and continues with fixed random
    bases."""
    rng = random.Random(11)
    return {
        f"c{i}": _MD_CONTIG + "".join(rng.choice("ACGT") for _ in range(CONTIG_LEN - 200))
        for i in range(N_CONTIGS)
    }


def md_tag(read: str, ref: str) -> str:
    """MD string of an ungapped alignment of ``read`` against ``ref``."""
    out, run = [], 0
    for r, g in zip(read, ref):
        if r == g:
            run += 1
        else:
            out.append(f"{run}{g}")
            run = 0
    return "".join(out) + str(run)


def _alignment_read(k: int, ref: dict[str, str], rng: random.Random) -> dict:
    """Markdup/BQSR class: 50 bp reads whose 5' sites collide about once
    per 5000 keys per contig and strand, one in seven soft-clipped."""
    contig = f"c{k % 4}"
    start = (k * 13) % 5000 + 100
    clipped = k % 7 == 0
    alen = 45 if clipped else 50
    refseq = ref[contig][start : start + alen]
    q = 10 + k % 30
    # substitution errors at a rate that follows the reported quality,
    # so the BQSR observation table has something to learn from
    p_err = 10 ** (-q / 10) + 0.002
    bases = [
        rng.choice([b for b in "ACGT" if b != g]) if rng.random() < p_err else g
        for g in refseq
    ]
    seq = "".join(bases)
    clip = "".join(rng.choice("ACGT") for _ in range(5)) if clipped else ""
    return dict(
        name=f"a{k}", contig=contig, start=start, cigar="5S45M" if clipped else "50M",
        neg=k % 3 == 0, seq=clip + seq, qual=chr(33 + q) * 50, md=md_tag(seq, refseq),
        mapq=60, rg=READ_GROUPS[k % 3][0], lead_clip=5 if clipped else 0, ref_len=alen,
    )


def _bqsr_read(k: int) -> dict:
    """BQSR class: 8 bp forward reads with one MD mismatch each, the
    covariate groups spread over three read groups."""
    seq = "".join("ACGT"[(k * i) % 4] for i in range(1, 9))
    qual = "".join(chr(33 + (k * i) % 50) for i in range(1, 9))
    return dict(
        name=f"b{k}", contig=f"c{N_CONTIGS - 1}", start=1000 + k % 1000, cigar="8M", neg=False,
        seq=seq, qual=qual, md=f"{k % 8}A{7 - k % 8}", mapq=60, rg=READ_GROUPS[k % 3][0],
        lead_clip=0, ref_len=8,
    )


def _realign_read(k: int) -> dict:
    """Realignment class on the shared contig: clean 10 bp reads, reads
    carrying a 2 bp deletion at 118 (the consensus) and reads naively
    aligned 10M across it (the ones the realigner moves); one indel
    pile per contig."""
    ct = _MD_CONTIG
    contig = f"c{k % N_CONTIGS}"
    cls = k % 3
    if cls == 0:
        s = k % 100
        seq, start, cigar, md = ct[s : s + 10], s, "10M", "10"
    elif cls == 1:
        seq, start, cigar, md = ct[114:118] + ct[120:128], 114, "4M2D8M", "4^" + ct[118:120] + "8"
    else:
        seq = ct[115:118] + ct[120:127]
        start, cigar, md = 115, "10M", md_tag(seq, ct[115:125])
    return dict(
        name=f"c{k}", contig=contig, start=start, cigar=cigar, neg=False, seq=seq,
        qual="I" * len(seq), md=md, mapq=40, rg=READ_GROUPS[k % 3][0], lead_clip=0,
        ref_len=14 if cigar == "4M2D8M" else 10,
    )


def read_records(seed: int, n_align: int, n_bqsr: int, n_realign: int) -> list[dict]:
    """The seeded read set in file (unsorted) order."""
    rng = random.Random(seed)
    ref = reference()
    keys = rng.sample(range(10_000_000), n_align + n_bqsr + n_realign)
    recs = [_alignment_read(k, ref, rng) for k in keys[:n_align]]
    recs += [_bqsr_read(k) for k in keys[n_align : n_align + n_bqsr]]
    recs += [_realign_read(k) for k in keys[n_align + n_bqsr :]]
    rng.shuffle(recs)
    return recs


# -- BAM encoding ------------------------------------------------------------

_CIGAR_OPS = {c: i for i, c in enumerate("MIDNSHP=X")}
_SEQ_CODE = {c: i for i, c in enumerate("=ACMGRSVTWYHKDBN")}


def _reg2bin(beg: int, end: int) -> int:
    end -= 1
    for shift, off in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        if beg >> shift == end >> shift:
            return off + (beg >> shift)
    return 0


def _cigar(cigar: str) -> list[tuple[int, str]]:
    out, num = [], ""
    for ch in cigar:
        if ch.isdigit():
            num += ch
        else:
            out.append((int(num), ch))
            num = ""
    return out


def bam_record(r: dict, ref_id: int) -> bytes:
    name = r["name"].encode() + b"\x00"
    ops = _cigar(r["cigar"])
    seq = r["seq"]
    packed = bytearray((len(seq) + 1) // 2)
    for i, b in enumerate(seq):
        packed[i // 2] |= _SEQ_CODE[b] << (4 if i % 2 == 0 else 0)
    qual = bytes(ord(c) - 33 for c in r["qual"])
    tags = b"MDZ" + r["md"].encode() + b"\x00" + b"RGZ" + r["rg"].encode() + b"\x00"
    flag = 0x10 if r["neg"] else 0
    body = struct.pack(
        "<iiBBHHHiiii", ref_id, r["start"], len(name), r["mapq"],
        _reg2bin(r["start"], r["start"] + r["ref_len"]), len(ops), flag, len(seq), -1, -1, 0,
    )
    body += name + b"".join(struct.pack("<I", n << 4 | _CIGAR_OPS[op]) for n, op in ops)
    body += bytes(packed) + qual + tags
    return struct.pack("<i", len(body)) + body


def _bgzf_block(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    payload = c.compress(data) + c.flush()
    header = struct.pack(
        "<BBBBIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6, 66, 67, 2, len(payload) + 25
    )
    return header + payload + struct.pack("<II", zlib.crc32(data), len(data))


_BGZF_EOF = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")


def write_bam(path: str, recs: list[dict]) -> None:
    ref = reference()
    names = list(ref)
    text = "@HD\tVN:1.6\tSO:unsorted\n"
    text += "".join(f"@SQ\tSN:{n}\tLN:{len(ref[n])}\n" for n in names)
    text += "".join(f"@RG\tID:{rg}\tLB:{lb}\tSM:s0\tPL:ILLUMINA\n" for rg, lb in READ_GROUPS)
    raw = bytearray(b"BAM\x01" + struct.pack("<i", len(text)) + text.encode())
    raw += struct.pack("<i", len(names))
    for n in names:
        raw += struct.pack("<i", len(n) + 1) + n.encode() + b"\x00" + struct.pack("<i", len(ref[n]))
    idx = {n: i for i, n in enumerate(names)}
    for r in recs:
        raw += bam_record(r, idx[r["contig"]])
    with open(path + ".tmp", "wb") as fh:
        for off in range(0, len(raw), 0xFF00):
            fh.write(_bgzf_block(bytes(raw[off : off + 0xFF00])))
        fh.write(_BGZF_EOF)
    os.replace(path + ".tmp", path)


def reads_truth(recs: list[dict]) -> pa.Table:
    lib = dict(READ_GROUPS)
    return pa.table(
        {
            "readName": [r["name"] for r in recs],
            "contig": [r["contig"] for r in recs],
            "start": [r["start"] for r in recs],
            "ref_len": [r["ref_len"] for r in recs],
            "lead_clip": [r["lead_clip"] for r in recs],
            "neg": [r["neg"] for r in recs],
            "library": [lib[r["rg"]] for r in recs],
        }
    )


# -- documents ---------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"]


def doc_pool(n: int, pool_seed: int = 5) -> pa.Table:
    """Corpus-like documents over a small vocabulary (the contract
    corpus' shape); about one in twelve is a near-copy of an earlier
    document with a trailing ``dup`` token, so dedup has clusters."""
    rng = random.Random(pool_seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 1 / 12:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# -- star schema for the contract queries ------------------------------------

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def tables(scale: int = 1) -> dict[str, pa.Table]:
    """Seed-independent tables in the contract layout; ``scale=1`` has
    the row counts of the smallest contract dataset (1500 orders)."""
    rng = np.random.default_rng(42)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_ev = 1500 * scale, 1000 * scale
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
            ).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
    }
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 999.9, n_part), 1),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    ts = np.datetime64("2024-01-01", "us") + offsets
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 15 * scale, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev).tolist(),
        "value": np.round(rng.exponential(60, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = doc_pool(250 * scale, pool_seed=3)
    n_emb, dim = 500 * scale, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, dim))
    vec = centers[labels] + 0.6 * rng.standard_normal((n_emb, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(dir_: str, scale: int = 1) -> None:
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(scale).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
