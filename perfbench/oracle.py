"""Oracle answers and the order-independent result checksum.

An answer is ``(rows, h1, h2)``: the row count plus two sums of
polynomial hashes of the row's key columns, reduced mod 2**31 - 1.  The
same definition is evaluated as a Spark aggregate over the engine's result
(that aggregate is the benchmark's sink), as SQL inside DuckDB over the
same inputs, and over NumPy arrays for the brute-force kNN answers, so a
missing, extra or changed row shows as a mismatch.  Every operand stays
below 2**54, so no engine overflows a 64-bit integer.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOD = 2147483647
_K1 = (1000003, 8191, 131)
_K2 = (40503, 2246822519 % MOD, 97)

Answer = tuple[int, int, int]


def spark_answer(df: DataFrame, cols: list[Column], extra=()) -> tuple:
    """Run the checksum aggregate over ``df`` (one Spark action).  Returns
    the answer followed by the value of each ``extra`` aggregate."""
    def h(ks):
        acc = None
        for c, k in zip(cols, ks):
            t = c.cast("long") * F.lit(k)
            acc = t if acc is None else acc + t
        return F.sum(acc % F.lit(MOD))

    r = df.agg(F.count(F.lit(1)), h(_K1), h(_K2), *extra).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0), *r[3:])


def same_answer(got: tuple, want: Answer) -> bool:
    return tuple(got[:3]) == want


def np_answer(cols: list[np.ndarray]) -> Answer:
    """The same checksum over NumPy columns."""
    def h(ks):
        acc = sum(np.asarray(c, np.int64) * np.int64(k) for c, k in zip(cols, ks))
        return int((acc % MOD).sum())

    return (len(cols[0]), h(_K1), h(_K2))


def knn_mask(e: pd.DataFrame, q: tuple, k: int) -> np.ndarray:
    """Tie-inclusive kNN by brute force: every entry of ``e`` within the
    k-th smallest box-to-box squared distance from query box ``q``
    (all entries when there are at most ``k``)."""
    x0, y0, x1, y1 = q
    dx = np.maximum(np.maximum(e["xmin"].to_numpy() - x1, x0 - e["xmax"].to_numpy()), 0.0)
    dy = np.maximum(np.maximum(e["ymin"].to_numpy() - y1, y0 - e["ymax"].to_numpy()), 0.0)
    d2 = dx * dx + dy * dy
    if len(d2) <= k:
        return np.ones(len(d2), bool)
    return d2 <= np.partition(d2, k - 1)[k - 1]


def sql_answer(cols: list[str]) -> str:
    """The same checksum as SQL select-list text (DuckDB)."""
    def h(ks):
        expr = " + ".join(f"CAST({c} AS BIGINT) * {k}" for c, k in zip(cols, ks))
        return f"CAST(COALESCE(SUM(({expr}) % {MOD}), 0) AS BIGINT)"

    return f"CAST(COUNT(*) AS BIGINT) AS n, {h(_K1)} AS h1, {h(_K2)} AS h2"


def wrap_sql(v: str, shift: str) -> str:
    """x-shift with wrap-around into [0, 1); identical IEEE ops to
    :func:`wrap_col`."""
    return f"CASE WHEN {v} + {shift} >= 1.0 THEN {v} + {shift} - 1.0 ELSE {v} + {shift} END"


def wrap_col(v: Column, shift: float) -> Column:
    s = v + F.lit(shift)
    return F.when(s >= F.lit(1.0), s - F.lit(1.0)).otherwise(s)


def tile_sql(x: str, y: str, bits: int) -> str:
    """``curves.cell_id`` over the unit world, as DuckDB SQL."""
    n = 1 << bits
    def g(c):
        return f"LEAST(GREATEST(FLOOR({c} * {float(n)}), 0), {n - 1})"
    return f"CAST({g(x)} AS BIGINT) * {n} + CAST({g(y)} AS BIGINT)"


def pip_sql(pts: str, polys: str, key: str, cols: list[str], cells: int) -> str:
    """Point-in-box join answers per ``key`` as DuckDB SQL.

    ``pts`` yields ``key, x, y`` plus ``cols``; ``polys`` holds
    ``poly_id, pxmin, pymin, pxmax, pymax`` with extents below
    ``1 / cells``.  Each box is listed in the (at most 2 × 2) grid cells it
    spans, so the join is an equi-join on the point's cell followed by the
    exact closed-interval test; each pair meets once, in the point's cell.
    """
    def c(v):
        return f"CAST(FLOOR({v} * {float(cells)}) AS BIGINT)"

    return f"""
        WITH pc AS (
          SELECT b.*, {c('b.pxmin')} + dx AS cx, {c('b.pymin')} + dy AS cy
          FROM {polys} b, (VALUES (0), (1)) u(dx), (VALUES (0), (1)) v(dy)
          WHERE {c('b.pxmin')} + dx <= {c('b.pxmax')}
            AND {c('b.pymin')} + dy <= {c('b.pymax')}
        ),
        pt AS (SELECT *, {c('x')} AS cx, {c('y')} AS cy FROM ({pts}))
        SELECT pt.{key}, {sql_answer(cols)}
        FROM pt JOIN pc ON pt.cx = pc.cx AND pt.cy = pc.cy
         AND pc.pxmin <= pt.x AND pt.x <= pc.pxmax
         AND pc.pymin <= pt.y AND pt.y <= pc.pymax
        GROUP BY pt.{key}
    """


class Oracle:
    """In-process DuckDB over the benchmark's generated inputs."""

    def __init__(self, workdir: str, threads: int):
        tmp = os.path.join(workdir, "duckdb_tmp")
        os.makedirs(tmp, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp}'")
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET memory_limit = '1GB'")

    def register(self, name: str, pdf: pd.DataFrame) -> None:
        self.con.register(name, pdf)

    def answers(self, sql: str) -> dict[int, Answer]:
        """``sql`` selects ``key, n, h1, h2``; returns ``{key: answer}``."""
        return {
            int(k): (int(n), int(a), int(b))
            for k, n, a, b in self.con.execute(sql).fetchall()
        }

    def close(self) -> None:
        self.con.close()
