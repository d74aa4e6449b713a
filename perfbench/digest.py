"""Order-independent digests of output rows.

A digest is ``"<rows>:<hex>"`` where the hex is the sum, modulo 2**64,
of a 64-bit BLAKE2b hash of each row's canonical text. Row order and
partitioning do not change it; any changed, missing or extra row does.
Floats are rounded to 9 significant digits so the digest does not depend
on the last bit of a summation order.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

_MASK = (1 << 64) - 1


def _canon(v) -> str:
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(v[k])}" for k in sorted(v)) + "}"
    return repr(v)


def row_hash(row) -> int:
    text = "\x1f".join(_canon(v) for v in row)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def digest_rows(rows) -> str:
    n, acc = 0, 0
    for row in rows:
        n += 1
        acc = (acc + row_hash(row)) & _MASK
    return f"{n}:{acc:016x}"


def digest_table(table: pa.Table, columns: list[str] | None = None) -> str:
    """Digest of an Arrow table over ``columns`` (default: all, sorted by
    name so column order does not matter)."""
    cols = columns if columns is not None else sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return digest_rows(zip(*data)) if data else digest_rows([])


def read_parquet_dir(path: str) -> pa.Table:
    """All part files of a Spark parquet output directory."""
    parts = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    tables = [pq.read_table(p) for p in parts]
    return pa.concat_tables(tables) if tables else pa.table({})


def dir_bytes(path: str) -> int:
    """Bytes committed at ``path`` (a file or a directory): every file
    but Hadoop's hidden ``.crc`` checksums and the empty ``_SUCCESS``
    marker, so metadata sidecars count."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith(".") and f != "_SUCCESS")
    return total
