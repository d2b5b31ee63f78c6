import pytest

from perfbench import stats


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 25) == pytest.approx(1.75)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    # 39 samples: even p75 leaves 9.75 beyond -> no tail
    assert stats.tail([float(i) for i in range(39)]) is None
    t = stats.tail([float(i) for i in range(40)])
    assert t["percentile"] == 75.0 and t["n"] == 40
    assert t["value"] == pytest.approx(stats.percentile(list(range(40)), 75))
    # 100 samples: p95 leaves 5 beyond, p90 leaves 10
    assert stats.tail([float(i) for i in range(100)])["percentile"] == 90.0
    assert stats.tail([float(i) for i in range(1000)])["percentile"] == 99.0


def test_crawl_clock_steady_window():
    # start 0, crawl() called at 1, commits of rounds 0..2 at 11, 17, 20
    out = stats.crawl_clock(1.0, 0.0, 21.0, [(0, 11.0), (1, 17.0), (2, 20.0)],
                            {0: 100, 1: 60, 2: 30})
    assert out["wall_s"] == 21.0
    assert out["urls"] == 190
    assert out["urls_per_s"] == pytest.approx(190 / 21.0)
    assert out["first_commit_s"] == 10.0
    assert out["round_s"] == [6.0, 3.0]
    # rounds >= 1 over round 0's commit to the last commit
    assert out["steady_urls_per_s"] == pytest.approx(90 / 9.0)


def test_crawl_clock_single_round_has_no_steady_window():
    out = stats.crawl_clock(0.0, 0.0, 5.0, [(0, 4.0)], {0: 10})
    assert out["round_s"] == [] and "steady_urls_per_s" not in out


def test_crawl_clock_rejects_missing_rounds():
    with pytest.raises(ValueError):
        stats.crawl_clock(0.0, 0.0, 5.0, [], {})
    with pytest.raises(ValueError):
        stats.crawl_clock(0.0, 0.0, 5.0, [(0, 1.0), (2, 2.0)], {0: 1, 2: 1})


def test_overlap():
    assert stats.overlap((0, 10), (5, 20)) == 5
    assert stats.overlap((0, 10), (10, 20)) == 0
    assert stats.overlap((0, 10), (12, 20)) == 0
    assert stats.overlap((2, 3), (0, 10)) == 1
