"""grid_density_clusters — hand-laid-out point clouds."""

import pytest

from mhm_data_pipelines_spark.operators.density import (
    grid_density_clusters,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, x double, y double")


class TestGridDensityClusters:
    def test_two_blobs_and_noise(self, spark):
        # blob A: 4 points in cell (0,0); blob B: 4 points in cell
        # (5,5); one lone point in cell (9,9) -> noise
        rows = [(i, 0.01 + i * 0.001, 0.01) for i in range(4)]
        rows += [(10 + i, 0.51 + i * 0.001, 0.51) for i in range(4)]
        rows += [(99, 0.95, 0.95)]
        out = grid_density_clusters(
            _df(spark, rows), "x", "y", "id",
            cell_size=0.1, min_pts=3,
        ).collect()
        by_id = {r["id"]: r["cluster"] for r in out}
        a = {by_id[i] for i in range(4)}
        b = {by_id[10 + i] for i in range(4)}
        assert len(a) == 1 and len(b) == 1 and a != b
        assert by_id[99] is None  # sparse cell -> noise

    def test_adjacent_dense_cells_merge(self, spark):
        # two dense cells sharing a corner (diagonal 8-neighborhood)
        rows = [(i, 0.05, 0.05) for i in range(3)]
        rows += [(10 + i, 0.15, 0.15) for i in range(3)]
        out = grid_density_clusters(
            _df(spark, rows), "x", "y", "id",
            cell_size=0.1, min_pts=3,
        ).collect()
        labels = {r["cluster"] for r in out}
        assert len(labels) == 1 and None not in labels

    def test_separated_by_sparse_gap_stay_apart(self, spark):
        # dense at (0,0) and (3,0) with nothing between
        rows = [(i, 0.05, 0.05) for i in range(3)]
        rows += [(10 + i, 0.35, 0.05) for i in range(3)]
        out = grid_density_clusters(
            _df(spark, rows), "x", "y", "id",
            cell_size=0.1, min_pts=3,
        ).collect()
        labels = {r["cluster"] for r in out}
        assert len(labels) == 2

    def test_negative_coords_and_nulls(self, spark):
        rows = [(i, -0.25 - i * 0.001, -0.25) for i in range(3)]
        df = spark.createDataFrame(
            rows + [(9, None, 0.1)], "id long, x double, y double"
        )
        out = grid_density_clusters(
            df, "x", "y", "id", cell_size=0.1, min_pts=3
        ).collect()
        assert len(out) == 3  # NULL row dropped
        assert all(r["cluster"] is not None for r in out)
        assert out[0]["cx"] == -3

    def test_guards(self, spark):
        df = _df(spark, [(1, 0.0, 0.0)])
        with pytest.raises(ValueError, match="cell_size"):
            grid_density_clusters(df, "x", "y", "id", cell_size=0.0)
        with pytest.raises(ValueError, match="min_pts"):
            grid_density_clusters(df, "x", "y", "id", min_pts=0)

    def test_cc_modes_agree(self, spark):
        """The single-task union-find labels a dense-cell graph exactly
        as the distributed min-label propagation does."""
        import random

        from mhm_data_pipelines_spark.operators.components import (
            connected_components,
        )
        from mhm_data_pipelines_spark.operators.density import (
            _local_components,
        )

        rng = random.Random(9)
        cells = sorted({
            (rng.randint(-6, 6), rng.randint(-6, 6)) for _ in range(40)
        })
        cid = {c: (c[0] + 100) * 1000 + c[1] + 100 for c in cells}
        pairs = [
            (cid[a], cid[b])
            for a in cells
            for b in cells
            if cid[a] < cid[b]
            and max(abs(a[0] - b[0]), abs(a[1] - b[1])) == 1
        ]
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        nodes = spark.createDataFrame(
            [(v,) for v in cid.values()], "node long"
        )
        local = sorted(
            (r["node"], r["component"])
            for r in _local_components(edges, nodes).collect()
        )
        ref = sorted(
            (r["node"], r["component"])
            for r in connected_components(edges, nodes=nodes).collect()
        )
        assert local == ref
        assert len(local) == len(cells)
        assert 1 < len({c for _, c in local}) < len(cells)
