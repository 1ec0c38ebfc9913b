"""The lake path contract: every reader of a lake path agrees on the
dimension values ``sources.lake.LAYOUTS`` assigns, for each layout."""

from __future__ import annotations

import gzip
import os

import pytest

from mhm_data_pipelines_spark.cli import main
from mhm_data_pipelines_spark.operators.catalog_queries import summary_report
from mhm_data_pipelines_spark.operators.compact import compact_lake
from mhm_data_pipelines_spark.sources.catalog import build_catalog
from mhm_data_pipelines_spark.sources.lake import (
    LAYOUTS,
    path_dimensions,
    read_lake_unified,
)


def test_raw_catalog_keys_are_participant_metric(spark, lake_root):
    """``build_catalog(layout="raw")`` reads the participant and metric
    directories, not the top-level directory and the site."""
    cat = build_catalog(spark, lake_root, layout="raw")
    rep = {
        (r.user_id, r.measurement): r.n_files
        for r in summary_report(cat).collect()
    }
    assert rep == {
        ("ABC-123-XYZ", "android_health_connect_typed_data"): 2,
        ("ABC-123-XYZ", "device_app_log"): 3,
        ("ABC-123-XYZ", "questionnaire_response"): 1,
        ("DEF-456-UVW", "android_health_connect_typed_data"): 2,
    }


#: (site, participant) pairs and, per metric, the files of each
#: participant as (file name, header, rows). ``hr`` drifts: its sharded
#: file carries an extra ``device`` column.
PARTICIPANTS = (("LON", "P1"), ("NYC", "P2"))
FILES = {
    "steps": [
        ("20240101_0900.csv.gz", "timestamp,value", ["1704099600,100", "1704103200,200"]),
    ],
    "hr": [
        ("20240101_0900.csv.gz", "timestamp,value", ["1704099600,61.5"]),
        ("20240102_0900_1.csv.gz", "timestamp,value,device", ["1704186000,70,watch"]),
    ],
}


def _write_lake(root, layout: str) -> set[tuple[str, ...]]:
    """Write a two-metric lake in ``layout``; returns the dimension
    tuples (in ``LAYOUTS[layout]`` order) of the directories written."""
    written = set()
    for site, pid in PARTICIPANTS:
        for metric, files in FILES.items():
            dims = {
                "top_level": "study-data", "site": site,
                "participant_id": pid, "metric": metric,
            }
            key = tuple(dims[d] for d in LAYOUTS[layout])
            written.add(key)
            for name, header, rows in files:
                p = os.path.join(root, *key, name)
                os.makedirs(os.path.dirname(p), exist_ok=True)
                with gzip.open(p, "wt") as f:
                    f.write("\n".join([header, *rows]) + "\n")
    return written


@pytest.mark.parametrize("layout", ["raw", "merged", "flat"])
def test_layout_contract(spark, tmp_path, capsys, layout):
    dims = LAYOUTS[layout]
    root = str(tmp_path / "lake")
    written = _write_lake(root, layout)
    partitions = [d for d in dims if d != "top_level"]
    expected = {tuple(v for d, v in zip(dims, key) if d != "top_level") for key in written}
    pairs = {(key[dims.index("participant_id")], key[-1]) for key in written}

    # path_dimensions: the layout's dimensions, then the filename parts.
    assert list(path_dimensions(0, layout=layout)) == [
        *dims, "filename", "file_timestamp", "shard_index",
    ]

    # read_lake_unified: every file's rows carry its directory's values;
    # the drifting column is null on files that lack it.
    df = read_lake_unified(spark, root, layout=layout)
    assert {tuple(r) for r in df.select(*dims).distinct().collect()} == written
    assert df.count() == len(PARTICIPANTS) * sum(
        len(rows) for files in FILES.values() for _, _, rows in files
    )
    assert df.filter(df.device.isNotNull()).count() == len(PARTICIPANTS)

    # compact_lake: one partition directory per dimension tuple.
    out = str(tmp_path / "compacted")
    compact_lake(spark, root, out, layout=layout)
    dirs = {
        tuple(os.path.relpath(d, out).split(os.sep))
        for d, _, names in os.walk(out)
        if any(n.endswith(".parquet") for n in names)
    }
    assert dirs == {
        tuple(f"{c}={v}" for c, v in zip(partitions, key)) for key in expected
    }

    # build_catalog: user_id is the participant, measurement the metric.
    cat = build_catalog(spark, root, layout=layout)
    assert {(r.user_id, r.measurement) for r in cat.collect()} == pairs

    # CLI overview: grouped by the partition columns, one row per tuple.
    capsys.readouterr()
    assert main(["--root", root, "--layout", layout, "overview"], spark=spark) == 0
    table = [
        [c.strip() for c in line.strip("|").split("|")]
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("|")
    ]
    assert table[0][: len(partitions)] == partitions
    assert {tuple(row[: len(partitions)]) for row in table[1:]} == expected
