"""Shared fixtures: one SparkSession per test run + the FIXTURES.md §1
hand-built micro-graph exercising every canonical-semantics edge case."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from akka_graph_db_spark.model import PropertyGraph  # noqa: E402
from akka_graph_db_spark.operators import crud  # noqa: E402
from akka_graph_db_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # get_spark defaults to a 16g driver heap. Over a whole test run G1
    # grows the committed heap towards that cap (about 15 GB resident),
    # which can exhaust a 16 GB host; the test inputs need far less.
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def micro(spark) -> PropertyGraph:
    """~10 nodes / ~16 edges: supernode (6), 2-cycle (1<->2), self-loop
    (1->1), parallel same-label edges (103/104), every JSON prop type incl.
    nested object + array (7), a string-typed number ("12", node 10), and a
    disconnected island (7)."""
    empty = PropertyGraph(
        nodes=spark.createDataFrame(
            [], "id bigint, label string, props map<string,string>"
        ),
        edges=spark.createDataFrame(
            [],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    g = crud.add_nodes(
        empty,
        [
            (1, "person", {"age": 30, "name": "alice", "vip": True}),
            (2, "person", {"age": 25, "name": "bob"}),
            (3, "person", {"name": "carol", "score": 1.5}),
            (4, "city", {"name": "paris"}),
            (5, "city", {"name": "tokyo"}),
            (6, "hub", {}),
            (7, "island", {"nested": {"a": 1}, "arr": [1, 2]}),
            (8, "person", {"age": 30}),
            (9, "city", {}),
            (10, "person", {"name": "12"}),
        ],
    )
    g = crud.add_edges(
        g,
        [
            (100, "knows", 1, 2, {"since": 2020}),
            (101, "knows", 2, 1, {}),
            (102, "knows", 1, 1, {}),
            (103, "knows", 1, 3, {}),
            (104, "knows", 1, 3, {"w": 1}),
            (105, "lives_in", 1, 4, {}),
            (106, "lives_in", 2, 5, {}),
            (107, "hub_link", 6, 1, {}),
            (108, "hub_link", 6, 2, {}),
            (109, "hub_link", 6, 3, {}),
            (110, "hub_link", 6, 4, {}),
            (111, "hub_link", 6, 5, {}),
            (112, "lives_in", 3, 4, {}),
            (113, "knows", 8, 2, {}),
            (114, "road", 4, 5, {"km": 9727.5}),
            (115, "road", 5, 9, {}),
            (116, "knows", 2, 3, {}),
        ],
    )
    g = PropertyGraph(
        g.nodes.localCheckpoint(eager=True),
        g.edges.localCheckpoint(eager=True),
    )
    return g


def ids(df, col="id"):
    return sorted(r[col] for r in df.select(col).collect())
