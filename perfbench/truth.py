"""Transaction hashes for the generators' ground truth, computed without the
package under test.

The merge check compares the program's output hashes with these, so they
must not come from the program's own RLP, canonicalisation or Keccak code:
a defect there would otherwise change both sides alike. Keccak-256 here
follows the compact reference description of Keccak-f[1600]
(https://keccak.team/keccak_specs_summary.html) with Ethereum's 0x01
padding; `tx_hash` strips the blob sidecar of a network-form type-3 tx and
hashes the canonical envelope, as the protocol defines the hash.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1
_RATE = 136  # bytes: Keccak-256 has a 512-bit capacity


def _round_constants() -> list[int]:
    out, r = [], 1
    for _ in range(24):
        rc = 0
        for j in range(7):
            r = ((r << 1) ^ ((r >> 7) * 0x71)) % 256
            if r & 2:
                rc ^= 1 << ((1 << j) - 1)
        out.append(rc)
    return out


def _rho_pi() -> list[tuple[int, int, int]]:
    """(source lane, destination lane, rotation) for the combined ρ and π
    steps; lane index is x + 5y."""
    out, (x, y) = [], (1, 0)
    for t in range(24):
        nx, ny = y, (2 * x + 3 * y) % 5
        out.append((x + 5 * y, nx + 5 * ny, ((t + 1) * (t + 2) // 2) % 64))
        x, y = nx, ny
    return out


_RC = _round_constants()
_RHO_PI = _rho_pi()
#: per lane i = x + 5y: the lanes θ reads (x-1, x+1) and χ reads (x+1, x+2)
_THETA = [((i + 4) % 5, (i + 1) % 5) for i in range(5)]
_CHI = [(i, i - i % 5 + (i + 1) % 5, i - i % 5 + (i + 2) % 5) for i in range(25)]


def _permute(a: list[int]) -> list[int]:
    for rc in _RC:
        c = [a[x] ^ a[x + 5] ^ a[x + 10] ^ a[x + 15] ^ a[x + 20] for x in range(5)]
        d = [c[lo] ^ (((c[hi] << 1) | (c[hi] >> 63)) & _MASK) for lo, hi in _THETA]
        a = [v ^ d[i % 5] for i, v in enumerate(a)]
        b = a[:]
        for src, dst, rot in _RHO_PI:
            v = a[src]
            b[dst] = ((v << rot) | (v >> (64 - rot))) & _MASK
        a = [b[i] ^ (~b[j] & b[k]) for i, j, k in _CHI]
        a[0] ^= rc
    return a


def keccak256(data: bytes) -> bytes:
    padded = bytearray(data) + b"\x01" + bytes(-(len(data) + 1) % _RATE)
    padded[-1] |= 0x80
    a = [0] * 25
    for off in range(0, len(padded), _RATE):
        for i in range(_RATE // 8):
            a[i] ^= int.from_bytes(padded[off + 8 * i:off + 8 * i + 8], "little")
        a = _permute(a)
    return b"".join(a[i].to_bytes(8, "little") for i in range(4))


def _rlp_item_end(buf: bytes, pos: int) -> int:
    """Offset just past the RLP item that starts at `pos`."""
    b = buf[pos]
    if b < 0x80:
        return pos + 1
    if b < 0xB8:
        return pos + 1 + b - 0x80
    if b < 0xC0:
        n = b - 0xB7
        return pos + 1 + n + int.from_bytes(buf[pos + 1:pos + 1 + n], "big")
    if b < 0xF8:
        return pos + 1 + b - 0xC0
    n = b - 0xF7
    return pos + 1 + n + int.from_bytes(buf[pos + 1:pos + 1 + n], "big")


def _list_payload_start(buf: bytes, pos: int) -> int:
    b = buf[pos]
    return pos + 1 if b < 0xF8 else pos + 1 + (b - 0xF7)


def tx_hash(raw: str, blob_sidecar: bool = False) -> str:
    """0x-hex hash of a canonical 0x-hex raw tx. With `blob_sidecar`, `raw`
    is a type-3 tx in network form, 0x03 || rlp([tx, blobs, commitments,
    proofs]), and the hash covers 0x03 || tx."""
    buf = bytes.fromhex(raw[2:])
    if blob_sidecar:
        start = _list_payload_start(buf, 1)
        buf = buf[:1] + buf[start:_rlp_item_end(buf, start)]
    return "0x" + keccak256(buf).hex()
