"""Vectorized longitude/latitude wrapping and authalic-latitude series.

Re-derivation of the reference's scalar helpers (utils.py:47-343) as
array-in/array-out NumPy functions. The power-series coefficients are
the published Karney 2022 (arXiv:2212.05818) equations A19/A20, copied
with the reference's exact nesting so the floating-point op order — and
therefore the low bits — match the scalar implementation.
"""

from __future__ import annotations

import numpy as np


def wrap_longitude(lam: np.ndarray, radians: bool = False) -> np.ndarray:
    """Normalize longitudes to [-half, half) (reference: utils.py:47-71).

    The reference leaves in-range values untouched (no modulo applied),
    which matters for bit-parity, so we only rewrite out-of-range rows.
    """
    lam = np.asarray(lam, dtype=np.float64)
    half = np.pi if radians else 180.0
    out = lam.copy()
    bad = (lam < -half) | (lam >= half)
    if np.any(bad):
        # +-inf is "bad" and np.mod maps it to NaN (the encode's null);
        # invalid= silences the warning, not the value
        with np.errstate(invalid="ignore"):
            r = np.mod(lam[bad], 2 * half)
        r = np.where(r >= half, r - 2 * half, r)
        out[bad] = r
    return out


def wrap_latitude(phi: np.ndarray, radians: bool = False) -> np.ndarray:
    """Normalize latitudes to [-half/2, half/2] (reference: utils.py:74-113)."""
    phi = wrap_longitude(phi, radians=radians)
    half = np.pi if radians else 180.0
    out = phi.copy()
    over = np.abs(phi) > half / 2
    if np.any(over):
        out[over] = phi[over] - np.copysign(half, phi[over])
    return out


def _third_flattening(e: float) -> tuple[float, float]:
    """(f, n) from eccentricity (reference: utils.py:149-151)."""
    f = 1 - np.sqrt(1 - e**2)
    n = (1 - np.sqrt(1 - e**2)) / (1 + np.sqrt(1 - e**2))
    return f, n


def auth_lat(
    phi: np.ndarray, e: float, inverse: bool = False, radians: bool = False
) -> np.ndarray:
    """Authalic latitude (forward) / common latitude (inverse).

    Vectorized re-derivation of reference utils.py:116-343, preserving
    the flattening dispatch: direct log-formula for f > 1/150
    (utils.py:157-175), 6-term power series otherwise (utils.py:177-343).
    """
    phi = np.asarray(phi, dtype=np.float64)
    if e == 0:
        return phi.copy()
    f, n = _third_flattening(e)

    if not inverse and abs(f) > 1 / 150:
        # Direct formula branch (only reachable for strongly flattened
        # test ellipsoids; WGS84 uses the series).
        p = phi if radians else phi * np.pi / 180
        s = np.sin(p)
        q = ((1 - e**2) * s) / (1 - (e * s) ** 2) - (1 - e**2) / (2.0 * e) * np.log(
            (1 - e * s) / (1 + e * s)
        )
        qp = 1 - (1 - e**2) / (2.0 * e) * np.log((1.0 - e) / (1.0 + e))
        ratio = q / qp
        ratio = np.clip(ratio, -1.0, 1.0)
        result = np.arcsin(ratio)
        return result if radians else result * 180 / np.pi

    p = phi if radians else phi * np.pi / 180
    if not inverse:
        # Series A19 (utils.py:182-255) — nesting copied verbatim.
        out = p + (
            n
            * (
                -4 / 3
                + n
                * (
                    -4 / 45
                    + n
                    * (
                        88 / 315
                        + n
                        * (538 / 4725 + n * (20824 / 467775 + n * (-44732 / 2837835)))
                    )
                )
            )
            * np.sin(2 * p)
            + n
            * (
                n
                * (
                    34 / 45
                    + n
                    * (
                        8 / 105
                        + n
                        * (-2482 / 14175 + n * (-37192 / 467775 + n * (-12467764 / 212837625)))
                    )
                )
            )
            * np.sin(4 * p)
            + n
            * (
                n
                * (
                    n
                    * (
                        -1532 / 2835
                        + n * (-898 / 14175 + n * (54968 / 467775 + n * 100320856 / 1915538625))
                    )
                )
            )
            * np.sin(6 * p)
            + n
            * (
                n
                * (n * (n * (6007 / 14175 + n * (24496 / 467775 + n * (-5884124 / 70945875)))))
            )
            * np.sin(8 * p)
            + n
            * (n * (n * (n * (n * (-23356 / 66825 + n * (-839792 / 19348875))))))
            * np.sin(10 * p)
            + n * (n * (n * (n * (n * (n * 570284222 / 1915538625))))) * np.sin(12 * p)
        )
    else:
        # Series A20 (utils.py:267-338) — nesting copied verbatim.
        out = p + (
            n
            * (
                4 / 3
                + n
                * (
                    4 / 45
                    + n
                    * (
                        -16 / 35
                        + n
                        * (-2582 / 14175 + n * (60136 / 467775 + n * 28112932 / 212837625))
                    )
                )
            )
            * np.sin(2 * p)
            + n
            * (
                n
                * (
                    46 / 45
                    + n
                    * (
                        152 / 945
                        + n * (-11966 / 14175 + n * (-21016 / 51975 + n * 251310128 / 638512875))
                    )
                )
            )
            * np.sin(4 * p)
            + n
            * (
                n
                * (
                    n
                    * (
                        3044 / 2835
                        + n * (3802 / 14175 + n * (-94388 / 66825 + n * (-8797648 / 10945935)))
                    )
                )
            )
            * np.sin(6 * p)
            + n
            * (
                n
                * (n * (n * (6059 / 4725 + n * (41072 / 93555 + n * (-1472637812 / 638512875)))))
            )
            * np.sin(8 * p)
            + n
            * (n * (n * (n * (n * (768272 / 467775 + n * 455935736 / 638512875)))))
            * np.sin(10 * p)
            + n * (n * (n * (n * (n * (n * 4210684958 / 1915538625))))) * np.sin(12 * p)
        )
    return out if radians else out * 180 / np.pi
