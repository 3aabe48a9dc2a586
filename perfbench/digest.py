"""Order-independent result digest, byte-for-byte the same as the harness's
(perfbench/jvm/src/main/scala/perfbench/Digest.scala).

It follows tools/compare_oracle.py's normalisation: columns sorted by name,
rows compared as a multiset, decimals compared as the float64 pandas turns
them into. Each value becomes bytes; a row hashes to the first 8 bytes of
the MD5 of its length-prefixed fields; the digest is
"<rows>:<sum of row hashes mod 2^64, hex>:<hash of the column names>".
"""
import datetime
import decimal
import hashlib
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_NAN_BITS = 0x7ff8000000000000


def _dbl(x):
    x = float(x)
    if x != x:
        bits = _NAN_BITS
    else:
        bits = struct.unpack('>Q', struct.pack('>d', 0.0 if x == 0.0 else x))[0]
    return format(bits, '016x').encode()


def _field(b):
    return struct.pack('>i', len(b)) + b


def encode(v):
    """Bytes of one value (the Scala side dispatches on the Spark type)."""
    if v is None:
        return b'\x00'
    if isinstance(v, bool):
        return b't' if v else b'f'
    if isinstance(v, int):
        return str(v).encode()
    if isinstance(v, (float, decimal.Decimal)):
        return _dbl(v)
    if isinstance(v, str):
        return v.encode('utf-8')
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex().encode()
    if isinstance(v, datetime.datetime):
        d = v - (_EPOCH if v.tzinfo is None else _EPOCH_TZ)
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds).encode()
    if isinstance(v, datetime.date):
        return str((v - _EPOCH.date()).days).encode()
    if isinstance(v, (list, tuple)):
        return b'[' + b''.join(_field(encode(x)) for x in v) + b']'
    if isinstance(v, dict):
        return b'{' + b''.join(_field(encode(x)) for x in v.values()) + b'}'
    raise TypeError(f'no digest encoding for {type(v).__name__}')


def digest(columns, rows):
    """Digest of `rows` (sequences of values in `columns` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        buf = b''.join(_field(encode(row[i])) for i in order)
        total += int.from_bytes(hashlib.md5(buf).digest()[:8], 'big')
        n += 1
    names = hashlib.md5(','.join(columns[i] for i in order).encode()).digest()
    return f"{n}:{total % (1 << 64):016x}:{int.from_bytes(names[:4], 'big'):08x}"


def of_relation(rel):
    """Digest of a DuckDB relation, consuming every row and column."""
    return digest(list(rel.columns), rel.fetchall())
