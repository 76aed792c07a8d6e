"""Seeded Spotify-like playlist catalog and an offline API fetcher.

The generator stands in for the Spotify Web API: a pool of tracks (with
their albums and artists) and playlists that draw tracks from the pool with
Zipf skew, so the same track shows up in many playlists and latest-wins
dedup has real duplicates to remove.  The data carries the edge cases the
normalizer handles: all three ``release_date`` precisions, multi-artist
tracks, and a share of NULL popularity and NULL label.

Everything is a pure function of the seed and the :class:`PlaylistSpec`;
extraction timestamps are fixed, so the bronze files the extractor writes
are byte-identical for the same seed.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Any

import numpy as np

BASE62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)
ALBUM_TYPES = ("album", "single", "compilation")


@dataclass(frozen=True)
class PlaylistSpec:
    """Shape of one generated catalog.

    ``zipf_s`` is the exponent of the track-reuse skew (higher = more
    reuse); ``reextract_share`` is the share of each increment made of
    re-extractions of earlier playlists (with changed popularity).
    """

    n_playlists: int
    tracks_per_playlist: int
    pool_tracks: int
    zipf_s: float = 1.1
    null_share: float = 0.05
    reextract_share: float = 0.5


def _ids(rng: np.random.Generator, n: int, prefix: str) -> list[str]:
    """``n`` distinct 22-char base62 ids (Spotify id shape)."""
    body = rng.integers(0, 62, size=(n, 22 - len(prefix)))
    out = [prefix + "".join(BASE62[row]) for row in body]
    if len(set(out)) != n:  # 62^19 keys: a collision means a generator bug
        raise RuntimeError("id collision in generated catalog")
    return out


def _ext(kind: str, id_: str) -> dict[str, str]:
    return {"spotify": f"https://open.spotify.com/{kind}/{id_}"}


class PlaylistCatalog:
    """A generated track pool plus playlists over it."""

    def __init__(self, seed: int, spec: PlaylistSpec) -> None:
        self.spec = spec
        self.seed = seed
        rng = np.random.default_rng([seed, 0x5107])
        n = spec.pool_tracks
        n_albums = max(4, n // 6)
        n_artists = max(4, n // 8)
        album_ids = _ids(rng, n_albums, "al")
        artist_ids = _ids(rng, n_artists, "ar")
        years = rng.integers(1960, 2024, n_albums)
        months = rng.integers(1, 13, n_albums)
        days = rng.integers(1, 29, n_albums)
        precision = rng.integers(0, 3, n_albums)
        self.albums = []
        for i, aid in enumerate(album_ids):
            date = (
                f"{years[i]}",
                f"{years[i]}-{months[i]:02d}",
                f"{years[i]}-{months[i]:02d}-{days[i]:02d}",
            )[precision[i]]
            label = None if rng.random() < spec.null_share else f"Label {i % 37}"
            self.albums.append(
                {
                    "id": aid,
                    "name": f"Album {i}",
                    "release_date": date,
                    "total_tracks": int(rng.integers(1, 25)),
                    "album_type": ALBUM_TYPES[int(rng.integers(0, 3))],
                    "label": label,
                    "external_urls": _ext("album", aid),
                }
            )
        self.artists = [
            {"id": a, "name": f"Artist {i}", "external_urls": _ext("artist", a)}
            for i, a in enumerate(artist_ids)
        ]
        track_ids = _ids(rng, n, "tr")
        track_album = rng.integers(0, n_albums, n)
        n_track_artists = rng.choice([1, 1, 1, 2, 3], size=n)
        self.tracks = []
        for i, tid in enumerate(track_ids):
            arts = rng.choice(n_artists, size=n_track_artists[i], replace=False)
            pop = None if rng.random() < spec.null_share else int(rng.integers(0, 101))
            self.tracks.append(
                {
                    "id": tid,
                    "name": f"Song {i}",
                    "duration_ms": int(rng.integers(60_000, 420_000)),
                    "popularity": pop,
                    "explicit": bool(rng.random() < 0.2),
                    "external_urls": _ext("track", tid),
                    "album": self.albums[track_album[i]],
                    "artists": [self.artists[a] for a in arts],
                }
            )
        weights = 1.0 / np.arange(1, n + 1) ** spec.zipf_s
        weights /= weights.sum()
        # the pool order is random, so the skew does not follow track index
        weights = weights[rng.permutation(n)]
        self.playlist_ids = _ids(rng, spec.n_playlists, "pl")
        self.playlists = [
            self._draw_items(rng, weights, k) for k in range(spec.n_playlists)
        ]

    def _draw_items(
        self, rng: np.random.Generator, weights: np.ndarray, k: int
    ) -> list[dict[str, Any]]:
        picks = rng.choice(
            len(self.tracks),
            size=min(self.spec.tracks_per_playlist, len(self.tracks)),
            replace=False,
            p=weights,
        )
        added = EPOCH - timedelta(days=30)
        return [
            {
                "added_at": (added + timedelta(minutes=int(t) + k)).strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                ),
                "track": self.tracks[t],
            }
            for t in picks
        ]

    def info(self, k: int) -> dict[str, Any]:
        return {
            "name": f"Playlist {k}",
            "description": "generated",
            "owner": {"id": f"owner{k % 11}", "display_name": f"Owner {k % 11}"},
            "public": True,
            "followers": {"total": int(1000 * (k + 1))},
        }

    def refreshed(self, k: int, epoch: int) -> list[dict[str, Any]]:
        """Playlist ``k`` as its re-extraction in landing ``epoch`` sees it:
        same tracks, popularity moved by a few points (NULLs stay NULL)."""
        rng = np.random.default_rng([self.seed, k, epoch])
        out = []
        for item in self.playlists[k]:
            track = dict(item["track"])
            if track["popularity"] is not None:
                delta = int(rng.integers(-5, 6))
                track["popularity"] = min(100, max(0, track["popularity"] + delta))
            out.append({"added_at": item["added_at"], "track": track})
        return out

    # -- expected warehouse contents for a batch over playlists 0..n-1 ----
    def expected_gold(self) -> dict[str, Any]:
        songs = {i["track"]["id"]: i["track"] for p in self.playlists for i in p}
        albums = {t["album"]["id"] for t in songs.values()}
        artists = {a["id"] for t in songs.values() for a in t["artists"]}
        ranked = sorted(
            (t for t in songs.values() if t["popularity"] is not None),
            key=lambda t: (-t["popularity"], t["id"]),
        )[:10]
        top10 = [
            (t["name"], t["artists"][0]["name"], t["album"]["name"], t["popularity"])
            for t in ranked
        ]
        return {
            "tblSongs": len(songs),
            "tblAlbum": len(albums),
            "tblArtist": len(artists),
            "top10": top10,
            "track_items": sum(len(p) for p in self.playlists),
        }


def extraction_time(k: int, epoch: int = 0) -> datetime:
    """Fixed snapshot time of playlist ``k`` in landing ``epoch``."""
    return EPOCH + timedelta(days=epoch, minutes=k)


class OfflineFetcher:
    """The extractor's network boundary: serves one playlist's metadata
    and its track pages by ``limit``/``offset``, and counts calls."""

    def __init__(self, info: dict[str, Any], items: list[dict[str, Any]]) -> None:
        self.info = info
        self.items = items
        self.calls = 0

    def __call__(self, endpoint: str, params: dict[str, Any]) -> dict[str, Any]:
        self.calls += 1
        if endpoint == "playlist":
            return self.info
        offset, limit = params["offset"], params["limit"]
        more = offset + limit < len(self.items)
        return {"items": self.items[offset : offset + limit], "next": "next" if more else None}


def playlist_url(playlist_id: str) -> str:
    return f"https://open.spotify.com/playlist/{playlist_id}"
