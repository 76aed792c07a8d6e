"""Tests of the benchmark itself: input determinism, the statistics and
naming rules, and the repeatability of the Spark work counters.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from meter import METRIC_NAME_RE, tail  # noqa: E402
from playlists import (  # noqa: E402
    OfflineFetcher,
    PlaylistCatalog,
    PlaylistSpec,
    extraction_time,
    playlist_url,
)

SMALL = PlaylistSpec(n_playlists=6, tracks_per_playlist=130, pool_tracks=300)


def _bronze(tmp: Path, seed: int) -> dict[str, bytes]:
    from spotify_etl_pipeline_spark.sources.ingest import PlaylistExtractor

    cat = PlaylistCatalog(seed, SMALL)
    for k, pid in enumerate(cat.playlist_ids):
        PlaylistExtractor(
            str(tmp),
            fetcher=OfflineFetcher(cat.info(k), cat.playlists[k]),
            now=lambda ts=extraction_time(k): ts,
        ).extract(playlist_url(pid))
    docs = tmp / "raw_data"  # the run logs also name their output path
    return {str(p.relative_to(docs)): p.read_bytes() for p in sorted(docs.rglob("*.json"))}


def test_same_seed_gives_identical_bronze(tmp_path):
    a = _bronze(tmp_path / "a", 7)
    b = _bronze(tmp_path / "b", 7)
    c = _bronze(tmp_path / "c", 8)
    assert a and a == b
    assert a != c


def test_generator_covers_the_edge_cases():
    cat = PlaylistCatalog(3, PlaylistSpec(n_playlists=20, tracks_per_playlist=100, pool_tracks=600))
    tracks = [i["track"] for p in cat.playlists for i in p]
    dates = {t["album"]["release_date"].count("-") for t in tracks}
    assert dates == {0, 1, 2}  # YYYY, YYYY-MM, YYYY-MM-DD
    assert any(len(t["artists"]) > 1 for t in tracks)
    assert any(t["popularity"] is None for t in tracks)
    assert any(t["album"]["label"] is None for t in tracks)
    exp = cat.expected_gold()
    assert exp["tblSongs"] < exp["track_items"]  # reuse gives dedup work
    assert len(exp["top10"]) == 10


def test_fetcher_pages_by_limit_and_counts_calls():
    cat = PlaylistCatalog(1, SMALL)
    fetch = OfflineFetcher(cat.info(0), cat.playlists[0])
    page = fetch("tracks", {"offset": 100, "limit": 100})
    assert len(page["items"]) == 30 and page["next"] is None
    assert fetch("tracks", {"offset": 0, "limit": 100})["next"] is not None
    assert fetch.calls == 2


def test_batch_extraction_pages():
    from spotify_etl_pipeline_spark.sources.ingest import PAGE_SIZE
    from workloads import PlaylistBatch

    assert PlaylistBatch.SPEC.tracks_per_playlist > PAGE_SIZE


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 19) is None  # any such percentile is below the median
    value, pct, n = tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)  # ten samples (10..19) lie beyond it
    value, pct, n = tail([float(i) for i in range(30)])
    assert value == 19.0 and pct == pytest.approx(200 / 3)
    value, pct, n = tail([float(i) for i in range(100)])
    assert value == 89.0 and pct == 90.0 and n == 100
    assert sum(1 for x in range(100) if x > value) == 10


def test_metric_names_and_units_follow_the_charset():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME_RE.match(name), name
    for key in ("end_to_end", "per_layer"):
        for m in spec[key]:
            assert len(m["unit"]) <= 16 and all(
                c.isalnum() or c in "_/%.-" for c in m["unit"]
            ), m
    assert METRIC_NAME_RE.match("queries.q5.s")
    for bad in ("", "_x", "a b", "a/b", "x" * 65, "é"):
        assert not METRIC_NAME_RE.match(bad), bad


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "playlist_batch", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_spark_counts_repeat_across_traced_runs():
    counts = []
    for _ in range(2):
        proc = _run("--workload", "playlist_batch", "--seed", "5", "--seconds", "1", "--trace", "1")
        assert proc.returncode == 0, proc.stderr[-2000:]
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0
        m = res["metrics"]
        assert m["trace.stages_unknown"]["value"] == 0
        counts.append({k: m[f"etl.{k}"]["value"] for k in ("jobs", "stages", "tasks")})
    assert counts[0]["jobs"] > 0
    assert counts[0] == counts[1]
