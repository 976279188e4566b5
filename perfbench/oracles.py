"""Reference computations written apart from the program: they share no
code with it, only the definitions (NODATA sentinel, q8 layout, Horn
stencil, word 3-gram shingles) that its outputs are specified by."""

from __future__ import annotations

import math
import re
import struct
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

NODATA = -9999.0


def ray_cast(px: np.ndarray, py: np.ndarray, ring: list[dict]) -> np.ndarray:
    """Even-odd rule: a point is inside when a ray towards +x crosses the
    ring's edges an odd number of times."""
    xs = np.array([v["x"] for v in ring])
    ys = np.array([v["y"] for v in ring])
    inside = np.zeros(px.shape, dtype=bool)
    for k in range(len(xs)):
        ax, ay, bx, by = xs[k], ys[k], xs[k - 1], ys[k - 1]
        straddle = (ay > py) != (by > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = (bx - ax) * (py - ay) / (by - ay + 1e-300) + ax
        inside ^= straddle & (px < x_cross)
    return inside


def q8_decode(data: bytes, w: int, h: int) -> np.ndarray:
    """q8 layout: little-endian float32 vmin, vmax, then one byte per cell,
    255 = NODATA, else vmin + q / 254 * (vmax - vmin) in float32."""
    vmin, vmax = struct.unpack("<ff", data[:8])
    q = np.frombuffer(data[8:], dtype=np.uint8).reshape(h, w)
    px = (q.astype(np.float32) / 254.0) * (vmax - vmin) + vmin
    return np.where(q == 255, np.float32(NODATA), px).astype(np.float32)


def horn(grid: np.ndarray, cellsize: float, azimuth: float = 315.0,
         altitude: float = 45.0) -> dict[str, np.ndarray]:
    """Horn's 3x3 slope (degrees), aspect (compass degrees, -1 where flat)
    and hillshade (0..255), NODATA wherever the window touches NODATA or
    the image edge."""
    h, w = grid.shape
    z = np.full((h + 2, w + 2), np.nan)
    z[1:-1, 1:-1] = np.where(grid == NODATA, np.nan, grid.astype(np.float64))
    win = lambda dy, dx: z[1 + dy:h + 1 + dy, 1 + dx:w + 1 + dx]  # noqa: E731
    dzdx = ((win(-1, 1) + 2 * win(0, 1) + win(1, 1))
            - (win(-1, -1) + 2 * win(0, -1) + win(1, -1))) / (8 * cellsize)
    dzdy = ((win(1, -1) + 2 * win(1, 0) + win(1, 1))
            - (win(-1, -1) + 2 * win(-1, 0) + win(-1, 1))) / (8 * cellsize)
    bad = np.isnan(dzdx) | np.isnan(dzdy) | np.isnan(win(0, 0))
    slope = np.arctan(np.hypot(dzdx, dzdy))
    flat = (dzdx == 0) & (dzdy == 0)
    aspect = np.where(flat, -1.0, np.mod(90.0 - np.degrees(np.arctan2(dzdy, -dzdx)), 360.0))
    asp_rad = np.where(flat, 0.0, np.radians(aspect))
    zen, az = math.radians(90.0 - altitude), math.radians(azimuth)
    shade = 255.0 * (math.cos(zen) * np.cos(slope)
                     + math.sin(zen) * np.sin(slope) * np.cos(az - asp_rad))
    out = {"slope": np.degrees(slope), "aspect": aspect,
           "hillshade": np.rint(np.clip(shade, 0.0, 255.0))}
    return {k: np.where(bad, NODATA, v) for k, v in out.items()}


def psnr(ref: np.ndarray, out: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB over the cells valid in both, with
    the reference's value range as the peak."""
    ok = (ref != NODATA) & (out != NODATA)
    r, o = ref[ok].astype(np.float64), out[ok].astype(np.float64)
    mse = float(np.mean((r - o) ** 2))
    return math.inf if mse == 0 else 10 * math.log10((r.max() - r.min()) ** 2 / mse)


def angle_diff(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    d = np.abs(a - b) % 360.0
    return np.minimum(d, 360.0 - d)


# ------------------------------------------------------------------ text --

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # the ASCII class of Java's \s


def shingles(text: str, n: int = 3) -> frozenset:
    """Distinct word n-grams of the space-trimmed, lower-cased text split
    on whitespace runs; a text of fewer than n tokens is one shingle."""
    toks = _WS.split(text.strip(" ").lower())
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def round6(x: float) -> float:
    """SQL ROUND(x, 6): half-up on the shortest decimal form of x."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def jaccard_pairs(sets: dict[int, frozenset]) -> dict[tuple, float]:
    """Every pair (a < b) with Jaccard >= 1/2, exactly, by prefix filtering:
    tokens ordered rarest first, a pair at or above the threshold must share
    a token within the first |s| - ceil(|s|/2) + 1 tokens of both sets."""
    freq: dict[str, int] = {}
    for s in sets.values():
        for t in s:
            freq[t] = freq.get(t, 0) + 1
    order = sorted(sets, key=lambda d: (len(sets[d]), d))
    ranked = {d: sorted(sets[d], key=lambda t: (freq[t], t)) for d in order}
    index: dict[str, list[int]] = {}
    out = {}
    for d in order:
        s, toks = sets[d], ranked[d]
        prefix = toks[:len(toks) - (len(toks) + 1) // 2 + 1]
        seen = set()
        for t in prefix:
            for c in index.get(t, ()):
                if c in seen or 2 * len(sets[c]) < len(s):
                    continue
                seen.add(c)
                inter = len(s & sets[c])
                union = len(s) + len(sets[c]) - inter
                if 2 * inter >= union:
                    out[(min(c, d), max(c, d))] = inter / union
        for t in prefix:
            index.setdefault(t, []).append(d)
    return out


# ----------------------------------------------------------- table rows --

def canonical_rows(table) -> tuple[list[str], list[tuple]]:
    """(sorted column names, sorted rows) of an Arrow table, floats as
    float64, so two engines' results compare exactly."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = []
    for r in zip(*data):
        rows.append(tuple(float(v) if isinstance(v, (float, Decimal)) else v for v in r))
    rows.sort(key=lambda r: tuple((v is None, v if v is not None else 0) for v in r))
    return cols, rows
