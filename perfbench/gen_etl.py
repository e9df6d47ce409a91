"""Seeded raw playlist days for the `etl_daily` workload, with their truth.

Each day is a landing of playlist envelopes as JSON lines in the engine's
raw schema (`graft.etl.Normalize.rawSchema`), split over a few files.
The days plant the cases the normalizer must handle:

- cross-playlist duplicates: songs are drawn from a skewed pool, so the
  same song appears in many playlists of one day;
- re-extraction: some playlists are extracted twice a day, the second
  envelope with a later `extracted_at` and fresh popularity figures;
- null track ids (local files) and tracks with an empty `artists[]`.

Every envelope of a day has a distinct `extracted_at` and lists a song at
most once, so the latest-wins survivor of every song is unique and the
truth below is exact:

- `items`: track items in the day; `songs`, `albums`, `artists`: distinct
  non-null ids the star schema must hold;
- `pop_sum`: the sum of `popularity` over the surviving song rows;
- `new_songs`: songs of the day absent from the previous day of the
  cycle (day 0 follows the last day);
- `raw_bytes`, `files`: the size and file count of the landing.

`main(out_dir, seed, items_per_day)` writes `DAYS` days.
"""
import json
import os

import numpy as np

DAYS = 3
FILES_PER_DAY = 4
TRACKS_PER_PLAYLIST = 100
REEXTRACT_SHARE = 0.15


def _pool(rng, n_songs):
    n_albums, n_artists = max(n_songs // 6, 1), max(n_songs // 4, 1)
    album_of = rng.integers(0, n_albums, n_songs)
    n_art = rng.integers(1, 4, n_songs)
    artists_of = [list(rng.integers(0, n_artists, k)) for k in n_art]
    for s in range(0, n_songs, 50):  # ghost tracks carry no artists
        artists_of[s] = []
    albums = []
    for a in range(n_albums):
        y = 1990 + a % 35
        rel = (f"{y}", f"{y}-{1 + a % 12:02d}", f"{y}-{1 + a % 12:02d}-{1 + a % 28:02d}")[a % 3]
        albums.append({
            "id": f"AL{a:08d}", "name": f"album {a}", "release_date": rel,
            "total_tracks": int(8 + a % 12),
            "album_type": ("album", "single", "compilation")[a % 3],
            "label": f"label {a % 97}",
            "external_urls": {"spotify": f"https://open.spotify.com/album/AL{a:08d}"}})
    artists = [{"id": f"AR{r:08d}", "name": f"artist {r}",
                "external_urls": {"spotify": f"https://open.spotify.com/artist/AR{r:08d}"}}
               for r in range(n_artists)]
    durations = rng.integers(90_000, 420_000, n_songs)
    return album_of, artists_of, albums, artists, durations


def _track_parts(pool):
    """Per song, the fixed JSON of its track item around the varying fields
    (added_at, id, popularity): (from the id to the popularity, after the
    popularity)."""
    album_of, artists_of, albums, artists, durations = pool
    parts = []
    for s in range(len(album_of)):
        mid = (f',"name":"song {s}","duration_ms":{int(durations[s])},"popularity":')
        rest = json.dumps({"explicit": bool(s % 7 == 0),
                           "external_urls": {"spotify": f"https://open.spotify.com/track/SO{s:09d}"},
                           "album": albums[album_of[s]],
                           "artists": [artists[r] for r in artists_of[s]]}, separators=(",", ":"))
        parts.append((mid, "," + rest[1:] + "}"))
    return parts


def _stamp(day, seconds):
    h, rem = divmod(int(seconds), 3600)
    m, s = divmod(rem, 60)
    return f"2026-01-{1 + day:02d}T{h:02d}:{m:02d}:{s:02d}"


def gen_day(rng, day, n_items, n_songs, pool, parts):
    n_playlists = max(n_items // TRACKS_PER_PLAYLIST, 1)
    weights = 1.0 / np.arange(1, n_songs + 1) ** 0.6
    weights /= weights.sum()
    album_of, artists_of = pool[0], pool[1]
    envelopes, latest = [], {}
    items = 0
    albums_seen, artists_seen = set(), set()
    slot = 0
    for p in range(n_playlists):
        extractions = 2 if rng.random() < REEXTRACT_SHARE else 1
        for e in range(extractions):
            slot += 1
            at = slot * 7 + (e * 6 * 3600 if e else 0)
            songs = rng.choice(n_songs, size=TRACKS_PER_PLAYLIST, replace=False, p=weights)
            pops = rng.integers(0, 101, TRACKS_PER_PLAYLIST)
            nulls = rng.random(TRACKS_PER_PLAYLIST) < 0.01
            added = _stamp(day, max(at - 3600, 0))
            tracks = []
            for s, pop, null_id in zip(songs, pops, nulls):
                sid = "null" if null_id else f'"SO{s:09d}"'
                tracks.append(f'{{"added_at":"{added}","track":{{"id":{sid}{parts[s][0]}{pop}{parts[s][1]}')
                albums_seen.add(int(album_of[s]))
                artists_seen.update(int(r) for r in artists_of[s])
                if not null_id:
                    prev = latest.get(int(s))
                    if prev is None or prev[0] < at:
                        latest[int(s)] = (at, int(pop))
            items += len(tracks)
            head = json.dumps({
                "playlist_id": f"PL{p:08d}", "extracted_at": _stamp(day, at),
                "extraction_timestamp": _stamp(day, at), "total_tracks": len(tracks),
                "playlist_info": {"name": f"playlist {p}", "description": "daily",
                                  "owner": {"id": "spotify", "display_name": "Spotify"},
                                  "public": True,
                                  "followers": {"href": None, "total": int(1000 + p)}}},
                separators=(",", ":"))
            envelopes.append(head[:-1] + ',"tracks":[' + ",".join(tracks) + "]}")
    truth = {"items": items, "songs": len(latest), "albums": len(albums_seen),
             "artists": len(artists_seen),
             "pop_sum": sum(v[1] for v in latest.values())}
    return envelopes, truth, set(latest)


def main(out, seed, items_per_day):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_songs = max(items_per_day, 1000)
    pool = _pool(rng, n_songs)
    parts = _track_parts(pool)
    truths, ids = [], []
    for d in range(DAYS):
        envelopes, truth, song_ids = gen_day(rng, d, items_per_day, n_songs, pool, parts)
        ddir = os.path.join(out, f"day_{d}")
        os.makedirs(ddir, exist_ok=True)
        raw = 0
        for f in range(FILES_PER_DAY):
            path = os.path.join(ddir, f"part-{f:05d}.json")
            with open(path, "w") as fh:
                for env in envelopes[f::FILES_PER_DAY]:
                    fh.write(env)
                    fh.write("\n")
            raw += os.path.getsize(path)
        truth.update(raw_bytes=raw, files=FILES_PER_DAY)
        truths.append(truth)
        ids.append(song_ids)
    for d in range(DAYS):
        truths[d]["new_songs"] = len(ids[d] - ids[d - 1])
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump({"days": truths}, fh)
