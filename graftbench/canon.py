"""Engine-neutral result digest; the same encoding as harness/graftbench/Canon.scala.

Columns are ordered by lower-cased name, each value is type-tagged, rows are
sorted by their UTF-8 bytes and hashed, so the digest ignores row order but
not row multiplicity. A digest reads `<row count>:<sha256 hex>`.
"""
import datetime
import decimal
import hashlib
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def _esc(s):
    return s.replace("\\", "\\\\").replace("\n", "\\n").replace("\x1f", "\\x1f")


def _dbl(x):
    if x != x:
        return "f:nan"
    if x == 0.0:
        return "f:0"
    return "f:" + format(struct.unpack(">q", struct.pack(">d", x))[0] & 0xFFFFFFFFFFFFFFFF, "x")


def _micros(ts):
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = ts - _EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def value(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return "d:" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s:" + _esc(v)
    if isinstance(v, datetime.datetime):
        return "t:%d" % _micros(v)
    if isinstance(v, datetime.date):
        return "D:%d" % (v - _EPOCH_DATE).days
    if isinstance(v, (bytes, bytearray)):
        return "x:" + v.hex()
    if isinstance(v, (list, tuple)):
        return "a:[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(sorted(value(k) + "=" + value(w) for k, w in v.items())) + "}"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return value(v.tolist())
    return "?:" + _esc(str(v))


def digest(columns, rows):
    """Digest of `rows` (sequences of values) under the given column names."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    encoded = sorted("\x1f".join(value(r[i]) for i in order).encode("utf-8") for r in rows)
    return "%d:%s" % (len(encoded), hashlib.sha256(b"\n".join(encoded)).hexdigest())
