"""EPSG:3857 forward/backward projection — vectorized, 2dp-rounded.

Numeric contract transcribed from the reference
(`/root/reference/src/position.rs:23-45`): coordinates are fixed-point
1e-7° int32; ``forward`` projects to spherical-mercator metres and
**rounds to 2 decimal places** — this rounding is part of the output
contract (lengths/areas/WKB only match if it is reproduced).
SRID: 3857 if transformed else 4326 (`position.rs:102-110`).
"""

from __future__ import annotations

import numpy as np

EARTH_WIDTH = 20037508.342789244


def coordinate_as_float(v: np.ndarray) -> np.ndarray:
    return np.asarray(v, dtype=np.float64) * 1e-7


def coordinate_as_integer(v: np.ndarray) -> np.ndarray:
    return np.round(np.asarray(v, dtype=np.float64) * 1e7).astype(np.int64)


def latitude_mercator(lat_deg: np.ndarray, scale: float = EARTH_WIDTH) -> np.ndarray:
    latr = np.radians(np.asarray(lat_deg, dtype=np.float64))
    return np.log(np.tan(np.pi / 4.0 + latr / 2.0)) / np.pi * scale


def latitude_un_mercator(y: np.ndarray, scale: float = EARTH_WIDTH) -> np.ndarray:
    return np.degrees(2.0 * np.arctan(np.exp(np.asarray(y, np.float64) * np.pi / scale)) - np.pi / 2.0)


def forward(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """fixed-point ints -> (x, y) EPSG:3857 metres rounded to 2dp
    (`position.rs:29-33`)."""
    x = coordinate_as_float(lon) * EARTH_WIDTH / 180.0
    y = latitude_mercator(coordinate_as_float(lat))
    return np.round(x * 100.0) / 100.0, np.round(y * 100.0) / 100.0


def backward(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """metres -> fixed-point ints (`position.rs:23-27`)."""
    lon = coordinate_as_integer(np.asarray(x, np.float64) * 180.0 / EARTH_WIDTH)
    lat = coordinate_as_integer(latitude_un_mercator(y))
    return lon, lat
