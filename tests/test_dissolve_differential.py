"""Differential test: our CC dissolve vs an independent pure-Python port of
the reference's greedy single-path BFS (reference dissolve.py:51-160) on
randomized FORK-FREE topologies — where the two semantics provably coincide
(SURVEY §7.3). Forks are pinned separately (test_dissolve.py divergence pin,
and one star fork against the port below).

Port semantics (faithful): ways visited in fid order; frontier is a LIFO of
group end nodes; popping a node scans its connected ways in fid order and
extends the group with the FIRST unassigned same-tag way only (break), adding
that way's non-shared endpoints to the frontier.
"""

from collections import defaultdict

import numpy as np
import pytest

from rlis2osm_spark.functions.wkb import encode_linestring
from rlis2osm_spark.operators.dissolve import dissolve_ways
from tests.test_dissolve import _combined_df


def reference_greedy_groups(ways):
    """ways: {fid: (tags, coords)} -> list of groups (lists of fids)."""
    node_ids = {}
    node_way_map = defaultdict(list)
    way_nodes = {}
    for fid, (_tags, coords) in ways.items():
        f_node, t_node = tuple(coords[0]), tuple(coords[-1])
        for node in (f_node, t_node):
            if node not in node_ids:
                node_ids[node] = len(node_ids)
            node_way_map[node_ids[node]].append(fid)
        way_nodes[fid] = {"f": node_ids[f_node], "t": node_ids[t_node]}

    assigned = set()
    groups = []
    for fid in ways:
        if fid in assigned:
            continue
        group = [fid]
        group_tags = ways[fid][0]
        nodes = list(way_nodes[fid].values())
        assigned.add(fid)
        while nodes:
            n = nodes.pop()
            for connect_id in node_way_map[n]:
                if connect_id in assigned:
                    continue
                if ways[connect_id][0] != group_tags:
                    continue
                group.append(connect_id)
                assigned.add(connect_id)
                nodes.extend(
                    cn for cn in way_nodes[connect_id].values() if cn != n)
                break
        groups.append(group)
    return groups


def _random_forkfree_ways(seed):
    """Random chains + closed rings, fork-free by construction (every node
    has degree <= 2 within its tag group)."""
    rng = np.random.RandomState(seed)
    tags_pool = [("residential", "Oak"), ("residential", "Elm"),
                 ("service", None), ("tertiary", "Main")]
    ways = {}
    fid = 0
    for chain in range(rng.randint(8, 16)):
        hw, name = tags_pool[rng.randint(len(tags_pool))]
        length = rng.randint(1, 7)
        y = float(chain * 50)
        xs = np.cumsum(rng.randint(1, 5, size=length + 1)).astype(float)
        order = rng.permutation(length)  # insertion order shuffled
        for seg in order:
            coords = [(xs[seg], y), (xs[seg + 1], y)]
            if rng.rand() < 0.5:
                coords = coords[::-1]  # reversed member still connects
            ways[fid] = ((hw, name), coords)
            fid += 1
    # one closed ring (cycle: all nodes degree 2)
    cx = 10_000.0
    ring_pts = [(cx, 0.0), (cx + 10, 0.0), (cx + 10, 10.0), (cx, 10.0)]
    for i in range(4):
        ways[fid] = (("residential", "Ring"),
                     [ring_pts[i], ring_pts[(i + 1) % 4]])
        fid += 1
    return dict(sorted(ways.items()))


@pytest.mark.parametrize("seed", [3, 17, 42])
def test_dissolve_matches_reference_greedy_on_forkfree(spark, seed):
    ways = _random_forkfree_ways(seed)
    ref_groups = reference_greedy_groups(ways)
    ref_hist = sorted(
        (ways[g[0]][0][0], ways[g[0]][0][1], len(g)) for g in ref_groups)

    rows = [
        (fid, tags[0], tags[1], encode_linestring(coords))
        for fid, (tags, coords) in ways.items()
    ]
    out = dissolve_ways(_combined_df(spark, rows)).collect()
    got_hist = sorted((r.highway, r.name, r.n_members) for r in out)
    assert got_hist == ref_hist
    assert sum(n for _, _, n in got_hist) == len(ways)


def test_greedy_mode_group_membership_exact():
    """Pinned fork against the reference's greedy grouping: a center node
    with 3 same-tag arms and a lead-in way. The port takes ONE arm per
    frontier pop (its break), so the star splits into two 2-way groups.
    That CC merges all four is pinned in test_dissolve.py's divergence
    pin, which takes the same star."""
    ways = {
        0: (("residential", "Oak"), [(0.0, 0.0), (10.0, 0.0)]),
        1: (("residential", "Oak"), [(10.0, 0.0), (20.0, 5.0)]),
        2: (("residential", "Oak"), [(10.0, 0.0), (20.0, -5.0)]),
        3: (("residential", "Oak"), [(10.0, 0.0), (20.0, 0.0)]),
    }
    assert sorted(sorted(g) for g in reference_greedy_groups(ways)) == [
        [0, 1], [2, 3]]
