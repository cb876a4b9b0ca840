"""Pure-Python secp256k1 ECDSA public-key recovery (SEC 1 v2 §4.1.6).

Dependency-free fallback for Ethereum sender recovery; Jacobian-coordinate
scalar multiplication keeps it to ~2 modular inversions per recover. A
production cluster should install `coincurve` (libsecp256k1) — `recover`
auto-dispatches to it when importable, ~100× faster.
"""

from __future__ import annotations

# Curve parameters (secp256k1, SEC 2 §2.4.1)
P = 0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEFFFFFC2F
N = 0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEBAAEDCE6AF48A03BBFD25E8CD0364141
GX = 0x79BE667EF9DCBBAC55A06295CE870B07029BFCDB2DCE28D959F2815B16F81798
GY = 0x483ADA7726A3C4655DA4FBFC0E1108A8FD17B448A68554199C47D08FFB10D4B8

_JPoint = tuple[int, int, int]  # Jacobian (X, Y, Z); Z=0 → infinity
_INF: _JPoint = (1, 1, 0)


def _jdouble(p: _JPoint) -> _JPoint:
    x, y, z = p
    if z == 0 or y == 0:
        return _INF
    s = (4 * x * y * y) % P
    m = (3 * x * x) % P  # a=0 for secp256k1
    x2 = (m * m - 2 * s) % P
    y2 = (m * (s - x2) - 8 * y * y * y * y) % P
    z2 = (2 * y * z) % P
    return x2, y2, z2


def _jadd(p: _JPoint, q: _JPoint) -> _JPoint:
    if p[2] == 0:
        return q
    if q[2] == 0:
        return p
    x1, y1, z1 = p
    x2, y2, z2 = q
    z1z1 = z1 * z1 % P
    z2z2 = z2 * z2 % P
    u1 = x1 * z2z2 % P
    u2 = x2 * z1z1 % P
    s1 = y1 * z2 * z2z2 % P
    s2 = y2 * z1 * z1z1 % P
    if u1 == u2:
        if s1 != s2:
            return _INF
        return _jdouble(p)
    h = (u2 - u1) % P
    r = (s2 - s1) % P
    h2 = h * h % P
    h3 = h * h2 % P
    x3 = (r * r - h3 - 2 * u1 * h2) % P
    y3 = (r * (u1 * h2 - x3) - s1 * h3) % P
    z3 = h * z1 * z2 % P
    return x3, y3, z3


def _jadd_affine(p: _JPoint, q: tuple[int, int]) -> _JPoint:
    """Mixed Jacobian + affine addition (q.z == 1) — ~30% cheaper than the
    general add; used for the precomputed-table points."""
    if p[2] == 0:
        return (q[0], q[1], 1)
    x1, y1, z1 = p
    x2, y2 = q
    z1z1 = z1 * z1 % P
    u2 = x2 * z1z1 % P
    s2 = y2 * z1 * z1z1 % P
    if x1 == u2:
        if y1 != s2:
            return _INF
        return _jdouble(p)
    h = (u2 - x1) % P
    r = (s2 - y1) % P
    h2 = h * h % P
    h3 = h * h2 % P
    x3 = (r * r - h3 - 2 * x1 * h2) % P
    y3 = (r * (x1 * h2 - x3) - y1 * h3) % P
    z3 = h * z1 % P
    return x3, y3, z3


def _jmul(p: _JPoint, k: int) -> _JPoint:
    result = _INF
    addend = p
    while k:
        if k & 1:
            result = _jadd(result, addend)
        addend = _jdouble(addend)
        k >>= 1
    return result


# GLV endomorphism (Gallant-Lambert-Vanstone; secp256k1 has the efficiently
# computable endomorphism φ(x,y) = (βx, y) = λ·(x,y) because a=0). Constants
# are the standard public values (see SEC 2 curve parameters and the GLV
# paper); the lattice basis satisfies a_i + b_i·λ ≡ 0 (mod N), which makes
# the decomposition correct for ANY rounding — rounding quality only bounds
# |k1|,|k2| ≈ √N, halving the doubling count of a variable-point multiply.
_LAMBDA = 0x5363AD4CC05C30E0A5261C028812645A122E22EA20816678DF02967C1B23BD72
_BETA = 0x7AE96A2B657C07106E64479EAC3434E99CF0497512F58995C1396C28719501EE
_G1A = 0x3086D221A7D46BCDE86C90E49284EB15  # a1
_G1B = -0xE4437ED6010E88286F547FA90ABFE4C3  # b1 (negative)
_G2A = 0x114CA50F7A8E2F3F657C1108D9D44CFD8  # a2
_G2B = _G1A  # b2 == a1

# sanity: both basis identities must hold or GLV silently degrades — assert
# once at import (microseconds) instead of trusting transcribed constants.
assert (_G1A + _G1B * _LAMBDA) % N == 0
assert (_G2A + _G2B * _LAMBDA) % N == 0
assert pow(_LAMBDA, 3, N) == 1 and pow(_BETA, 3, P) == 1


def _glv_decompose(k: int) -> tuple[int, int]:
    """k ≡ k1 + k2·λ (mod N) with |k1|,|k2| ≈ 2^128."""
    c1 = (2 * _G2B * k + N) // (2 * N)  # round(b2·k / N)
    c2 = (2 * (-_G1B) * k + N) // (2 * N)  # round(-b1·k / N)
    k1 = k - c1 * _G1A - c2 * _G2A
    k2 = -c1 * _G1B - c2 * _G2B
    return k1, k2


def _wnaf_digits(k: int, width: int = 4) -> list[int]:
    digits = []
    mod_mask = (1 << (width + 1)) - 1
    half = 1 << width
    while k:
        if k & 1:
            d = k & mod_mask
            if d > half:
                d -= mod_mask + 1
            digits.append(d)
            k -= d
        else:
            digits.append(0)
        k >>= 1
    return digits


def _odd_multiples(p: _JPoint, width: int = 4) -> list[_JPoint]:
    two_p = _jdouble(p)
    pre = [p]
    for _ in range((1 << (width - 1)) - 1):
        pre.append(_jadd(pre[-1], two_p))
    return pre


def _jmul_glv(p: _JPoint, k: int) -> _JPoint:
    """Variable-point multiply via GLV split + interleaved width-4 wNAF:
    ~128 doublings + ~2×26 additions, vs 256 doublings for a single 256-bit
    ladder — the dominant cost of ECDSA recovery after the fixed-base comb."""
    k %= N
    if k == 0 or p[2] == 0:
        return _INF
    k1, k2 = _glv_decompose(k)
    p1 = p
    p2 = (p[0] * _BETA % P, p[1], p[2])
    if k1 < 0:
        k1, p1 = -k1, (p1[0], P - p1[1], p1[2])
    if k2 < 0:
        k2, p2 = -k2, (p2[0], P - p2[1], p2[2])
    d1 = _wnaf_digits(k1)
    d2 = _wnaf_digits(k2)
    pre1 = _odd_multiples(p1)
    pre2 = _odd_multiples(p2)
    acc = _INF
    for i in range(max(len(d1), len(d2)) - 1, -1, -1):
        acc = _jdouble(acc)
        if i < len(d1) and d1[i]:
            q = pre1[abs(d1[i]) >> 1]
            acc = _jadd(acc, q if d1[i] > 0 else (q[0], P - q[1], q[2]))
        if i < len(d2) and d2[i]:
            q = pre2[abs(d2[i]) >> 1]
            acc = _jadd(acc, q if d2[i] > 0 else (q[0], P - q[1], q[2]))
    return acc


def _batch_to_affine(points: list[_JPoint]) -> list[tuple[int, int]]:
    """Montgomery batch inversion: all z⁻¹ for ONE modular inversion."""
    zs = [pt[2] for pt in points]
    prefix = [1] * (len(zs) + 1)
    for i, z in enumerate(zs):
        prefix[i + 1] = prefix[i] * z % P
    inv_all = pow(prefix[-1], -1, P)
    out: list[tuple[int, int]] = [None] * len(points)  # type: ignore[list-item]
    for i in range(len(zs) - 1, -1, -1):
        zinv = inv_all * prefix[i] % P
        inv_all = inv_all * zs[i] % P
        x, y, _ = points[i]
        zinv2 = zinv * zinv % P
        out[i] = (x * zinv2 % P, y * zinv2 * zinv % P)
    return out


_G_TABLE: list[list[tuple[int, int]]] | None = None


def _g_table() -> list[list[tuple[int, int]]]:
    """Fixed-base comb for G: affine (j+1)·16ʷ·G for w ∈ [0,64), j ∈ [0,15).
    Built once per process (one batch inversion); turns u1·G into ≤64 mixed
    additions with zero doublings."""
    global _G_TABLE
    if _G_TABLE is None:
        jrows: list[_JPoint] = []
        base: _JPoint = (GX, GY, 1)
        for _ in range(64):
            cur = base
            for _ in range(15):
                jrows.append(cur)
                cur = _jadd(cur, base)
            for _ in range(4):  # base ← 16·base
                base = _jdouble(base)
        flat = _batch_to_affine(jrows)
        _G_TABLE = [flat[w * 15 : w * 15 + 15] for w in range(64)]
    return _G_TABLE


def _mul_g(k: int) -> _JPoint:
    """k·G via the fixed-base table (k already reduced mod N)."""
    table = _g_table()
    acc = _INF
    w = 0
    while k:
        d = k & 15
        if d:
            acc = _jadd_affine(acc, table[w][d - 1])
        k >>= 4
        w += 1
    return acc


def _to_affine(p: _JPoint) -> tuple[int, int]:
    x, y, z = p
    if z == 0:
        raise ValueError("point at infinity")
    zinv = pow(z, -1, P)
    zinv2 = zinv * zinv % P
    return x * zinv2 % P, y * zinv2 * zinv % P


def recover_pubkey_pure(msg_hash: bytes, r: int, s: int, recovery_id: int) -> bytes:
    """Recover the uncompressed public key (64 bytes, x||y) from an ECDSA
    signature. recovery_id ∈ {0,1,2,3}; {2,3} add N to r (vanishingly rare).
    Raises ValueError on any invalid signature.
    """
    if not (1 <= r < N and 1 <= s < N and 0 <= recovery_id <= 3):
        raise ValueError("signature values out of range")
    x = r + (recovery_id >> 1) * N
    if x >= P:
        raise ValueError("r+jN out of field")
    # lift x: y^2 = x^3 + 7
    y_sq = (pow(x, 3, P) + 7) % P
    y = pow(y_sq, (P + 1) // 4, P)
    if y * y % P != y_sq:
        raise ValueError("point not on curve")
    if (y & 1) != (recovery_id & 1):
        y = P - y
    # Q = r^-1 (s*R - z*G)
    z = int.from_bytes(msg_hash, "big") % N
    r_inv = pow(r, -1, N)
    u1 = (-z * r_inv) % N
    u2 = (s * r_inv) % N
    # u1·G via the fixed-base comb (no doublings), u2·R via GLV-split
    # interleaved wNAF (~128 doublings) — together ~4× fewer curve ops than
    # two plain double-and-add ladders.
    q = _jadd(_mul_g(u1), _jmul_glv((x, y, 1), u2))
    qx, qy = _to_affine(q)
    return qx.to_bytes(32, "big") + qy.to_bytes(32, "big")


try:  # native fast path
    from coincurve import PublicKey as _CCPublicKey  # type: ignore

    def recover_pubkey(msg_hash: bytes, r: int, s: int, recovery_id: int) -> bytes:
        sig = r.to_bytes(32, "big") + s.to_bytes(32, "big") + bytes([recovery_id])
        return _CCPublicKey.from_signature_and_message(
            sig, msg_hash, hasher=None
        ).format(compressed=False)[1:]

except ImportError:
    recover_pubkey = recover_pubkey_pure
