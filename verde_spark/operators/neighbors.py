"""k nearest neighbours (verde neighbors.py:20-140), exact, two strategies.

The reference builds one KD-tree over all data and queries k neighbors per
prediction point. Both strategies here return that exact k-set; distance
ties break by a content-derived data row id (``xxhash64`` over all data
columns), so results repeat under task retries and any repartitioning.
Data rows with a null or NaN coordinate are dropped first.

* **Broadcast cell index** — a data side of at most
  :data:`BROADCAST_THRESHOLD` points, the decimated case the paper keeps
  small on purpose. One limited collect brings it to the driver, which
  sorts it by square cell (sized to hold about k points) into a
  :class:`CellIndex` and broadcasts it. One ``mapInPandas`` over the
  queries then runs :meth:`CellIndex.search` per Arrow batch: no join,
  window, checkpoint or count, so the job count does not depend on the
  data. ``distance_mask`` uses the same index with k=1.
* **Cell equi-join** — larger data sides. Both sides get an (unclamped)
  square cell index; each query point is exploded into its ring-r
  candidate cells and **equi-joined** on the cell key (never a
  cartesian/range join), then ``row_number() over (partition by query
  order by distance, id)`` keeps the top k. Unfinished queries escalate
  with a doubled ring in a driver-side loop of at most ``max_rounds``
  rounds, each a bounded join over the stragglers, with a brute-force
  cross join as the final fallback.

Both use the same completeness rule: every data point outside ring r is
farther than r·cell_size from the query, so a query whose kth candidate
distance is ≤ r·cell_size is final.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..base import BaseGridder

#: Largest data side that ``knn_join``, ``KNeighbors`` and ``distance_mask``
#: collect and broadcast; larger ones take the distributed cell join.
BROADCAST_THRESHOLD = 200_000

# candidates one search step materializes at most (about 40 MB of arrays)
_CHUNK = 1 << 20


def _expand(lo: np.ndarray, hi: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """CSR expansion: (segment, position) for every position of every
    half-open segment ``[lo[i], hi[i])``, in segment order."""
    lens = hi - lo
    seg = np.repeat(np.arange(len(lo)), lens)
    pos = np.arange(len(seg)) + np.repeat(lo - (np.cumsum(lens) - lens), lens)
    return seg, pos


def _chunks(load: np.ndarray):
    """``[a, b)`` runs of consecutive items, cut where the running *load*
    crosses a multiple of :data:`_CHUNK`; an item heavier than that runs
    alone."""
    chunk = (np.cumsum(load) - load) // _CHUNK
    cuts = [0, *(np.flatnonzero(np.diff(chunk)) + 1), len(load)]
    return zip(cuts[:-1], cuts[1:])


def _index_cell_size(width: float, height: float, n: int, k: int) -> float:
    """Square cell holding about k of n points spread over the bbox; the
    second term keeps cells finite for (near-)collinear data."""
    if n == 0 or max(width, height) == 0:
        return 1.0
    share = min(k, n) / n
    return max(float(np.sqrt(share * width * height)), share * max(width, height))


class CellIndex:
    """Data points sorted by square cell, with per-cell CSR offsets: the
    broadcast side of the kNN search and of ``distance_mask``.

    ``did`` is the tie-break id (equal distances rank by it) and ``rows``
    an optional frame of output columns, one row per point; both follow
    the points into cell order. Points with a non-finite coordinate are
    left out.
    """

    def __init__(self, east, north, k: int = 1, did=None, rows: Optional[pd.DataFrame] = None):
        east = np.asarray(east, dtype="float64").ravel()
        north = np.asarray(north, dtype="float64").ravel()
        kept = np.flatnonzero(np.isfinite(east) & np.isfinite(north))
        n = len(kept)
        if n:
            ke, kn = east[kept], north[kept]
            self.west, self.south = float(ke.min()), float(kn.min())
            width, height = float(ke.max()) - self.west, float(kn.max()) - self.south
        else:
            self.west = self.south = width = height = 0.0
        self.cell_size = _index_cell_size(width, height, n, k)
        ix, iy = self._cells(east[kept], self.west), self._cells(north[kept], self.south)
        self.nx = int(ix.max()) + 1 if n else 1
        self.ny = int(iy.max()) + 1 if n else 1
        cell = iy * self.nx + ix
        order = kept[np.argsort(cell, kind="stable")]
        self.east, self.north = east[order], north[order]
        self.did = np.zeros(n, "int64") if did is None else np.asarray(did, "int64")[order]
        self.rows = None if rows is None else rows.iloc[order].reset_index(drop=True)
        self.start = np.zeros(self.nx * self.ny + 1, dtype="int64")
        np.cumsum(np.bincount(cell, minlength=self.nx * self.ny), out=self.start[1:])

    def _cells(self, coord: np.ndarray, origin: float) -> np.ndarray:
        # clipped so a far-away or non-finite coordinate cannot overflow
        c = np.clip(np.floor((coord - origin) / self.cell_size), -(2.0**52), 2.0**52)
        return np.nan_to_num(c, nan=0.0).astype("int64")

    def _ring_segments(self, qx, qy, ring):
        """(query, lo, hi): one contiguous run of sorted points per cell row
        of each query's ring, clipped to the grid."""
        x0 = np.clip(qx - ring, 0, self.nx - 1)
        x1 = np.clip(qx + ring, 0, self.nx - 1)
        y0 = np.clip(qy - ring, 0, self.ny - 1)
        y1 = np.clip(qy + ring, 0, self.ny - 1)
        query, y = _expand(y0, y1 + 1)
        row = y * self.nx
        return query, self.start[row + x0[query]], self.start[row + x1[query] + 1]

    def search(self, qe, qn, k: int):
        """Exact top-k per query: ``(query, point, distance, rank)`` arrays
        ordered by query then rank, rank counted from 0.

        Points rank by ``(distance, did)``, with distance computed in the
        cell join's operation order, so both strategies agree bit for bit.
        Each query starts on the smallest ring (≥ 1) that reaches the grid;
        a query is final once it has k candidates and its kth distance is
        within the ring's bound, or once its ring covers the whole grid
        (a full scan). The rest double their ring.
        """
        qe = np.asarray(qe, dtype="float64")
        qn = np.asarray(qn, dtype="float64")
        qx, qy = self._cells(qe, self.west), self._cells(qn, self.south)
        nx, ny = self.nx, self.ny
        ring = np.maximum.reduce([np.ones_like(qx), -qx, qx - (nx - 1), -qy, qy - (ny - 1)])
        ring[~(np.isfinite(qe) & np.isfinite(qn))] = max(nx, ny)
        found = []
        pending = np.arange(len(qe))
        while pending.size:
            query, lo, hi = self._ring_segments(qx[pending], qy[pending], ring[pending])
            load = np.bincount(query, weights=hi - lo, minlength=len(pending))
            left = []
            for a, b in _chunks(load):
                s0, s1 = np.searchsorted(query, [a, b])
                seg, point = _expand(lo[s0:s1], hi[s0:s1])
                left.append(self._rank(pending[a:b], query[s0:s1][seg] - a, point,
                                       qe, qn, qx, qy, ring, k, found))
            pending = np.concatenate(left)
            ring[pending] *= 2
        if not found:
            empty = np.zeros(0, "int64")
            return empty, empty, np.zeros(0), empty
        q, p, dist, rank = (np.concatenate(a) for a in zip(*found))
        order = np.lexsort((rank, q))
        return q[order], p[order], dist[order], rank[order]

    def _rank(self, sel, owner, point, qe, qn, qx, qy, ring, k, found):
        """Rank one chunk's candidates, append the final queries' top k to
        *found*, and return the queries that need a wider ring."""
        de = self.east[point] - qe[sel][owner]
        dn = self.north[point] - qn[sel][owner]
        with np.errstate(over="ignore", invalid="ignore"):
            dist = np.sqrt(de * de + dn * dn)
        order = np.lexsort((self.did[point], dist, owner))
        owner, point, dist = owner[order], point[order], dist[order]
        count = np.bincount(owner, minlength=len(sel))
        first = np.cumsum(count) - count
        rank = np.arange(len(owner)) - first[owner]
        kth = np.full(len(sel), np.inf)
        full = count >= k
        kth[full] = dist[first[full] + k - 1]
        r = ring[sel]
        covers = (
            (qx[sel] - r <= 0) & (qx[sel] + r >= self.nx - 1)
            & (qy[sel] - r <= 0) & (qy[sel] + r >= self.ny - 1)
        )
        # the slack absorbs the rounding of the cell floor divisions
        done = covers | (kth <= r * self.cell_size * (1 - 1e-9))
        keep = done[owner] & (rank < k)
        found.append((sel[owner[keep]], point[keep], dist[keep], rank[keep]))
        return sel[~done]

    def nearest_distance(self, qe, qn) -> np.ndarray:
        """Distance to the nearest point per query (inf with no points)."""
        q, _, dist, _ = self.search(qe, qn, 1)
        out = np.full(len(np.atleast_1d(qe)), np.inf)
        out[q] = dist
        return out


def _cell_index(coord, origin: float, cell_size: float):
    """Unclamped integer cell index (floor division from a fixed origin)."""
    return F.floor((coord - F.lit(origin)) / F.lit(cell_size)).cast("long")


def _topk(cand: DataFrame, query_id: str, k: int) -> DataFrame:
    win = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col("__did").asc())
    return cand.withColumn("rank", F.row_number().over(win)).filter(F.col("rank") <= k)


def _with_did(data: DataFrame, easting: str, northing: str) -> DataFrame:
    """Drop rows with a null/NaN coordinate (ranked by a NULL distance they
    would come first) and add the content-derived tie-break id."""
    did = F.xxhash64(*[F.col(c) for c in data.columns])
    return data.dropna(subset=[easting, northing]).withColumn("__did", did)


def _data_side(data: DataFrame, easting: str, northing: str, k: int, broadcast_threshold: int):
    """``(bbox, count, index)`` of a ``_with_did`` data side.

    One limited collect decides the strategy and fetches a small side,
    which becomes a broadcast :class:`CellIndex`; a larger side (or
    ``broadcast_threshold=0``) gets one bbox + count aggregation for the
    cell join and ``index=None``.
    """
    if broadcast_threshold > 0:
        pdf = data.limit(broadcast_threshold + 1).toPandas()
        if len(pdf) <= broadcast_threshold:
            e, n = pdf[easting].to_numpy("float64"), pdf[northing].to_numpy("float64")
            bbox = (None,) * 4
            if len(pdf):
                bbox = (float(e.min()), float(e.max()), float(n.min()), float(n.max()))
            rows = pdf.drop(columns="__did").add_prefix("nb_")
            index = CellIndex(e, n, k, did=pdf["__did"], rows=rows)
            return bbox, len(pdf), data.sparkSession.sparkContext.broadcast(index)
    row = data.agg(
        F.min(easting), F.max(easting), F.min(northing), F.max(northing), F.count(F.lit(1))
    ).first()
    return tuple(row[:4]), row[4], None


def _knn_broadcast(index, data: DataFrame, queries: DataFrame, k: int,
                   query_easting: str, query_northing: str) -> DataFrame:
    """One ``mapInPandas`` over the queries against the broadcast index."""
    schema = T.StructType(
        queries.schema.fields
        + [T.StructField(f"nb_{f.name}", f.dataType) for f in data.schema.fields if f.name != "__did"]
        + [T.StructField("distance", T.DoubleType()), T.StructField("rank", T.IntegerType(), False)]
    )

    def top_k(batches):
        idx = index.value
        for pdf in batches:
            q, p, dist, rank = idx.search(
                pdf[query_easting].to_numpy("float64"), pdf[query_northing].to_numpy("float64"), k
            )
            yield pd.concat(
                [pdf.iloc[q].reset_index(drop=True), idx.rows.iloc[p].reset_index(drop=True)], axis=1
            ).assign(distance=dist, rank=(rank + 1).astype("int32"))

    return queries.mapInPandas(top_k, schema)


def _knn_cell_join(data, queries, k, cell_size, bbox, cnt, data_easting, data_northing,
                   query_easting, query_northing, query_id, max_rounds) -> DataFrame:
    """The ring-escalating cell equi-join over a data side of extent *bbox*."""
    w, e, s, n = bbox
    if cell_size is None:
        extent = max(e - w, n - s) or 1.0
        cells = max(1, int(np.sqrt(max(cnt, 1) / 64.0)))
        cell_size = extent / cells
    cell_size = float(cell_size)

    d = data.withColumn("dix", _cell_index(F.col(data_easting), w, cell_size)).withColumn(
        "diy", _cell_index(F.col(data_northing), s, cell_size)
    )
    d = d.select(
        "__did",
        "dix",
        "diy",
        *[F.col(c).alias(f"nb_{c}") for c in data.columns if c != "__did"],
    )
    de, dn = F.col(f"nb_{data_easting}"), F.col(f"nb_{data_northing}")

    q = queries.withColumn("qix", _cell_index(F.col(query_easting), w, cell_size)).withColumn(
        "qiy", _cell_index(F.col(query_northing), s, cell_size)
    )

    def dist_col():
        return F.sqrt(
            (de - F.col(query_easting)) * (de - F.col(query_easting))
            + (dn - F.col(query_northing)) * (dn - F.col(query_northing))
        )

    remaining = q
    finished = []
    ring = 1
    for _ in range(max_rounds):
        # explode the query into its (2r+1)^2 candidate cells → equi-join.
        cand_cells = remaining.withColumn(
            "cix", F.explode(F.sequence(F.col("qix") - ring, F.col("qix") + ring))
        ).withColumn("ciy", F.explode(F.sequence(F.col("qiy") - ring, F.col("qiy") + ring)))
        cand = cand_cells.join(
            d, (F.col("cix") == F.col("dix")) & (F.col("ciy") == F.col("diy"))
        ).withColumn("distance", dist_col())
        # localCheckpoint the round's top-k (≤ queries×k rows): cuts the
        # per-round lineage so round r never recomputes rounds 1..r-1 (the
        # former O(rounds²) job blow-up), stores RDD-level blocks the
        # context cleaner frees once the result DataFrame is dropped (a
        # SQL-level persist() would sit in the CacheManager for the session
        # lifetime, leaking one cache entry per knn_join call), and keeps
        # the RETURNED plan lazy — the caller's first action just reads
        # these small checkpointed blocks instead of paying an extra eager
        # materialization of the full result here.
        topk = _topk(cand, query_id, k).localCheckpoint(eager=True)
        stats = topk.groupBy(query_id).agg(
            F.count(F.lit(1)).alias("__nk"), F.max("distance").alias("__kdist")
        )
        done_ids = stats.filter(
            (F.col("__nk") >= k) & (F.col("__kdist") <= F.lit(float(ring) * cell_size))
        ).select(query_id)
        finished.append(topk.join(done_ids, query_id, "left_semi"))
        remaining = remaining.join(done_ids, query_id, "left_anti").localCheckpoint(
            eager=True
        )
        n_rem = remaining.count()  # cheap: counts the checkpointed blocks
        if n_rem == 0:
            remaining = None
            break
        ring *= 2
    if remaining is not None:
        cand = remaining.crossJoin(d).withColumn("distance", dist_col())
        finished.append(_topk(cand, query_id, k))

    out = finished[0]
    for f in finished[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    out = out.select(
        *queries.columns, *[f"nb_{c}" for c in data.columns if c != "__did"], "distance", "rank"
    )
    # the union stacks every round's partitioning (~rounds ×
    # shuffle.partitions of mostly-empty tasks); coalesce to the session
    # parallelism so downstream stages schedule sensibly
    sc = data.sparkSession.sparkContext
    return out.coalesce(sc.defaultParallelism)


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 1,
    cell_size: Optional[float] = None,
    data_easting: str = "easting",
    data_northing: str = "northing",
    query_easting: str = "easting",
    query_northing: str = "northing",
    query_id: str = "__qid",
    max_rounds: int = 5,
    broadcast_threshold: int = BROADCAST_THRESHOLD,
) -> DataFrame:
    """Top-k nearest data points per query point.

    Returns ``query columns + neighbor data columns (prefixed 'nb_') +
    distance + rank``. Distance ties break by a content-derived data row id
    (``xxhash64`` over all data columns) so the result is deterministic
    under task retries and any repartitioning — ``monotonically_increasing_id``
    would assign different ids per partitioning and flip equal-distance
    ties run-to-run. (verde's reductions are order-insensitive over the
    k-set; only set membership matters — neighbors.py:111-140.)

    A data side of at most *broadcast_threshold* rows is searched through
    a broadcast :class:`CellIndex`; a larger one (or
    ``broadcast_threshold=0``) takes the cell join, whose cells
    *cell_size* sizes (default: about 64 points per cell) and whose
    escalation *max_rounds* bounds. Both return the same rows.

    Supply a stable ``query_id`` column when one exists; otherwise a
    monotonic id is generated (deterministic for deterministic sources).
    """
    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")
    # the output appends its OWN distance/rank columns; a query frame
    # already carrying either (e.g. BaseGridder.profile output) would be
    # silently overwritten mid-join and the final aggregation would read
    # neighbor distances where the caller's values were expected —
    # refuse loudly (KNeighbors.predict shows the namespacing pattern)
    clash = {"distance", "rank"} & set(queries.columns)
    if clash:
        raise ValueError(
            f"queries already carry reserved output column(s) "
            f"{sorted(clash)}; rename or project them away before "
            "knn_join (see KNeighbors.predict for the namespacing "
            "pattern)"
        )
    if query_id not in queries.columns:
        queries = queries.withColumn(query_id, F.monotonically_increasing_id())
    data = _with_did(data, data_easting, data_northing)
    side = _data_side(data, data_easting, data_northing, k, broadcast_threshold)
    return _knn(data, side, queries, k, data_easting, data_northing, query_easting,
                query_northing, query_id, cell_size, max_rounds)


def _knn(data, side, queries, k, data_easting, data_northing, query_easting,
         query_northing, query_id, cell_size=None, max_rounds=5) -> DataFrame:
    """Top-k rows for a ``_with_did`` data side and its ``_data_side``."""
    bbox, cnt, index = side
    if index is not None:
        return _knn_broadcast(index, data, queries, k, query_easting, query_northing)
    return _knn_cell_join(data, queries, k, cell_size, bbox, cnt, data_easting, data_northing,
                          query_easting, query_northing, query_id, max_rounds)


class KNeighbors(BaseGridder):
    """verde ``KNeighbors`` gridder (neighbors.py:20-140): mean/median of the
    k nearest data values at each prediction point.

    grid/scatter/profile/score come from :class:`verde_spark.base.BaseGridder`.
    """

    def __init__(self, k: int = 1, reduction: str = "mean"):
        self.k = k
        self.reduction = reduction
        self.data_: Optional[DataFrame] = None
        self.region_: Optional[Tuple[float, float, float, float]] = None
        self._names: Tuple[str, str, str] = ("easting", "northing", "scalars")

    def fit(
        self,
        df: DataFrame,
        data_col: str = "scalars",
        easting: str = "easting",
        northing: str = "northing",
        weight_col: Optional[str] = None,
    ) -> "KNeighbors":
        if weight_col is not None:
            import warnings

            # parity with the reference: KNeighbors cannot use weights and
            # says so out loud (verde neighbors.py:96-102)
            warnings.warn(
                "KNeighbors does not support weights and they will be ignored."
            )
        self._names = (easting, northing, data_col)
        self.data_ = _with_did(df.select(easting, northing, data_col), easting, northing)
        # one collect (small side: the broadcast index) or one bbox + count
        # scan (cell join), reused by every predict
        self._side = _data_side(self.data_, easting, northing, self.k, BROADCAST_THRESHOLD)
        self.region_ = self._side[0]
        return self

    def predict(
        self,
        df: DataFrame,
        output_col: str = "prediction",
        easting: str = "easting",
        northing: str = "northing",
    ) -> DataFrame:
        if self.data_ is None:
            raise RuntimeError("KNeighbors is not fitted.")
        de, dn, dv = self._names
        qid = "__qid"
        # query columns move to a private namespace around the join:
        # knn_join emits its own "distance" / "nb_*" columns, which would
        # otherwise collide with same-named query columns (e.g. the
        # "distance" column of BaseGridder.profile points)
        safe = {c: f"__q{i}" for i, c in enumerate(df.columns)}
        queries = df.select(
            *[F.col(c).alias(safe[c]) for c in df.columns]
        ).withColumn(qid, F.monotonically_increasing_id())
        joined = _knn(self.data_, self._side, queries, self.k, de, dn,
                      safe[easting], safe[northing], qid)
        # the reference's reduction is a numpy callable over the k values
        # (default np.mean, neighbors.py:65); known callables normalize to
        # the native aggregate (same registry as block_reduce)
        from .blockreduce import _REDUCTIONS, _normalize_reduction

        name = _normalize_reduction(self.reduction)
        if callable(name):
            raise ValueError(
                f"KNeighbors reduction {self.reduction!r} is not a recognized "
                f"named/numpy reduction; use one of {sorted(_REDUCTIONS)}"
            )
        red = _REDUCTIONS[name]
        # single pass: carry the query columns through the agg (no join back,
        # so the generated qid is only ever used inside one lineage).
        aggs = [F.first(F.col(safe[c])).alias(c) for c in df.columns] + [
            red(F.col(f"nb_{dv}")).alias(output_col)
        ]
        return joined.groupBy(qid).agg(*aggs).drop(qid)


def median_distance(
    df: DataFrame,
    k: int = 1,
    easting: str = "easting",
    northing: str = "northing",
) -> DataFrame:
    """Per-point median distance to its k nearest neighbors, excluding self
    (verde distances.py:16-111: queries k+1 and drops the zero self-hit)."""
    # query columns move to a private namespace around the join (the
    # KNeighbors.predict pattern): knn_join refuses query frames whose
    # own distance/rank columns its output would overwrite
    safe = {c: f"__q{i}" for i, c in enumerate(df.columns)}
    pts = df.select(
        *[F.col(c).alias(safe[c]) for c in df.columns]
    ).withColumn("__qid", F.monotonically_increasing_id())
    joined = knn_join(
        df.select(easting, northing),
        pts,
        k=k + 1,
        data_easting=easting,
        data_northing=northing,
        query_easting=safe[easting],
        query_northing=safe[northing],
        query_id="__qid",
    )
    no_self = joined.filter(F.col("rank") > 1)
    aggs = [F.first(F.col(safe[c])).alias(c) for c in df.columns] + [
        F.median("distance").alias("median_distance")
    ]
    return no_self.groupBy("__qid").agg(*aggs).drop("__qid")
