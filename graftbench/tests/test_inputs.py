"""The seeded input generator: the seed changes bytes, never answers."""

import hashlib
from pathlib import Path

import pytest

from graftbench import inputs, oracle, pipelines


def digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def generate(root: Path, seed: int) -> Path:
    inputs.make_tables(root / "data", seed)
    inputs.make_feed(root / "feed", seed, 7)
    return root


def test_same_seed_gives_identical_files(tmp_path):
    a = digest(generate(tmp_path / "a", 5))
    b = digest(generate(tmp_path / "b", 5))
    assert a == b


def test_different_seeds_give_different_files(tmp_path):
    assert digest(generate(tmp_path / "a", 5)) != digest(generate(tmp_path / "b", 6))


def test_feed_order_and_cuts_follow_the_seed(tmp_path):
    f5 = inputs.make_feed(tmp_path / "a", 5, 7)
    f6 = inputs.make_feed(tmp_path / "b", 6, 7)
    assert sum(f.rows for f in f5) == sum(f.rows for f in f6) == inputs.EVENT_ROWS
    assert [f.rows for f in f5] != [f.rows for f in f6]


def test_operation_orders_are_seeded_rotations():
    names = pipelines.QUERIES
    a = inputs.operation_orders(1, names, 20)
    assert a == inputs.operation_orders(1, names, 20)
    assert len({tuple(inputs.operation_orders(s, names, 1)[0]) for s in range(20)}) > 1
    assert all(sorted(o) == sorted(names) for o in a)
    for start in range(len(a) - len(names) + 1):
        window = a[start:start + len(names)]
        for pos in range(len(names)):
            assert sorted(o[pos] for o in window) == sorted(names)


@pytest.fixture(scope="module")
def two_seeds(tmp_path_factory):
    return [generate(tmp_path_factory.mktemp(f"s{s}"), s) for s in (3, 4)]


def test_two_seeds_give_identical_query_answers(two_seeds):
    from etl_jobs_spark.compare import frames_match

    got = []
    for root in two_seeds:
        data = root / "data"
        con = oracle.connect(data, pipelines.TABLES)
        got.append(oracle.answers(con, oracle.oracle_sql(pipelines.QUERIES, data)))
    for name in pipelines.QUERIES:
        assert len(got[0][name]) > 0, name
        frames_match(got[0][name], got[1][name])


def test_two_seeds_give_identical_feed_judgments(two_seeds):
    judged = []
    for root in two_seeds:
        files = sorted((root / "feed").glob("*.csv"))
        truth = oracle.IngestOracle(files, {f.name: 0 for f in files})
        judged.append(
            truth.con.sql(
                "SELECT event_id, ok_required, ok_nonempty, ok_range FROM feed ORDER BY event_id"
            ).fetchall()
        )
        assert truth.quality()[0][:2] == (inputs.EVENT_ROWS, judged[-1] and sum(all(r[1:]) for r in judged[-1]))
    assert judged[0] == judged[1]
