"""Seeded inputs. The engine only ever sees the generated data; the same
seed always gives the same inputs."""

from __future__ import annotations

import numpy as np
import pandas as pd

# one 1 x 1 degree cell that receives HOT_SHARE of all points
HOT_CELL = (10.0, 50.0)
HOT_SHARE = 0.1


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def points_pdf(seed: int, n: int) -> pd.DataFrame:
    """Uniform world points with HOT_SHARE of them packed into HOT_CELL."""
    rng = rng_for(seed, 1)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-90.0, 90.0, n)
    hot = rng.random(n) < HOT_SHARE
    lon[hot] = HOT_CELL[0] + rng.random(int(hot.sum()))
    lat[hot] = HOT_CELL[1] + rng.random(int(hot.sum()))
    return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def targets_pdf(seed: int, iteration: int, n: int) -> pd.DataFrame:
    rng = rng_for(seed, 2, iteration)
    return pd.DataFrame({
        "tid": np.arange(n, dtype=np.int64),
        "tlon": rng.uniform(-180.0, 180.0, n),
        "tlat": rng.uniform(-90.0, 90.0, n),
    })


def zones_seed(seed: int, iteration: int) -> int:
    """Seed of the golden-zone layer of one iteration (a fresh layer
    every iteration, so the engine's plan caches never hit)."""
    return int(rng_for(seed, 3, iteration).integers(1 << 31))
