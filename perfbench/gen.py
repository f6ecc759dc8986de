"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: it writes the same bytes for
the same seed. `materialize` builds a workload's inputs once per seed under a
cache directory, generates them a second time into a twin directory and
compares the digests (the determinism check), then records the digests in
`manifest.json`. A later run re-verifies those digests before it uses the
cache.

The traffic properties each generator sets are the module constants below;
`PROPERTIES` collects them so every result can report them.
"""
import hashlib
import json
import os
import random
import shutil
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

# ---- itdb_library: one iTunes library XML --------------------------------
# Assumed, not measured: the repo holds no real library export to measure
# the shape of a heavy user's library from.
LIB_TRACKS = 1500
LIB_ARTISTS = 200          # Zipf(1.1)-skewed track counts per artist
LIB_ALBUMS_PER_ARTIST = 6  # Zipf(1.3)-skewed within an artist
LIB_GENRES = 24
LIB_PLAYLISTS = 60         # regular playlists, sized by LIB_PAGE_SIZES in turn
LIB_PAGE_SIZES = (25, 200)  # every run of 2 pages holds one of each
LIB_FOLDERS = 12           # folder playlists, a tree up to depth 3
LIB_RATING_NULL = 0.35     # share of tracks with no Rating key
LIB_ALBUM_NULL = 0.03      # share of tracks with no Album key

# ---- curation_batch: documents shaped like the sf0.1 table ---------------
# Measured on the repo's sf0.1 documents table (5,000 docs) with
# measure_docs.py: the 30 words of BASE_WORDS drawn uniformly; 10-100 tokens,
# uniform; 20 sources of 250 docs each (no skew); languages en 41.2%,
# zh 15.1%, es 14.9%, fr 14.8%, de 14.0%; 0.16% byte-identical copies;
# 5.0% near-duplicates, each an earlier doc with " dup" appended (4.72% of
# the docs are dropped by near-dup clustering at Jaccard 0.8); 0.22% of the
# docs are train-split docs sharing an 8-gram with the held-out slice; no doc
# fails the quality rule.
REP_DOCS = 3000
REP_EXACT_DUP = 0.0016     # byte-identical copy of an earlier doc
REP_NEAR_DUP = 0.05        # earlier doc with " dup" appended
REP_CONTAM = 0.0022        # carries a 12-token span of a held-out doc
REP_SOURCES = 20           # uniform: every source holds the same share
REP_LANGS = {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148, "de": 0.140}
REP_LEN = (10, 100)        # tokens per doc, uniform
# The curation report is checked against one committed per variant (see
# expected/): the seed picks one of REP_VARIANTS corpora.
REP_VARIANTS = 32

PROPERTIES = {
    "itdb_library": {
        "tracks": LIB_TRACKS, "artists": LIB_ARTISTS, "artist_skew": "zipf 1.1",
        "albums_per_artist": LIB_ALBUMS_PER_ARTIST, "album_skew": "zipf 1.3",
        "genres": LIB_GENRES, "playlists": LIB_PLAYLISTS, "folders": LIB_FOLDERS,
        "whole_library_playlist": 1, "rating_null_share": LIB_RATING_NULL,
        "album_null_share": LIB_ALBUM_NULL},
    "curation_batch": {
        "docs": REP_DOCS, "exact_dup_share": REP_EXACT_DUP,
        "near_dup_share": REP_NEAR_DUP, "contamination_share": REP_CONTAM,
        "short_doc_share": 0.0, "sources": REP_SOURCES, "source_skew": "uniform",
        "lang_shares": REP_LANGS, "tokens_per_doc": list(REP_LEN),
        "vocabulary": 30, "variants": REP_VARIANTS},
}

# The 30 words of the repo's documents table.
BASE_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()


def split_bucket(doc_id: int) -> int:
    """The repo's t9 split hash: first two hex chars of md5(id) as 0..255."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16)


def held_out(doc_id: int) -> bool:
    return split_bucket(doc_id) >= 250


def zipf_weights(n: int, s: float) -> list:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def words(rng: random.Random, n: int) -> list:
    return [rng.choice(BASE_WORDS) for _ in range(n)]


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def write_docs(rows: list, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[], [], [], [], []]
    tbl = pa.table([pa.array(cols[0], pa.int64()), pa.array(cols[1], pa.string()),
                    pa.array(cols[2], pa.string()), pa.array(cols[3], pa.string()),
                    pa.array([len(t) for t in cols[1]], pa.int64())],
                   schema=DOC_SCHEMA)
    pq.write_table(tbl, path)


def dealt(rng: random.Random, values: list, weights: list, n: int) -> list:
    """n values in exact proportion to the weights, in a seeded order."""
    total = sum(weights)
    counts = [int(w / total * n) for w in weights]
    for i in range(n - sum(counts)):
        counts[i % len(counts)] += 1
    out = [v for v, c in zip(values, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


# ---------------------------------------------------------------------------
def gen_library(seed: int, out: str) -> dict:
    """One iTunes library XML plus its ground truth."""
    rng = random.Random(seed * 7919 + 1)
    artists = [f"Artist {i:04d}" for i in range(LIB_ARTISTS)]
    artist_w = zipf_weights(LIB_ARTISTS, 1.1)
    album_w = zipf_weights(LIB_ALBUMS_PER_ARTIST, 1.3)
    genres = [f"Genre {g:02d} & Co" if g % 7 == 0 else f"Genre {g:02d}"
              for g in range(LIB_GENRES)]
    genre_w = zipf_weights(LIB_GENRES, 1.0)
    tracks = []
    for i in range(LIB_TRACKS):
        tid = 1000 + 2 * i
        a = rng.choices(range(LIB_ARTISTS), artist_w)[0]
        alb = None if rng.random() < LIB_ALBUM_NULL else \
            f"Album {a:04d}-{rng.choices(range(LIB_ALBUMS_PER_ARTIST), album_w)[0]}"
        rating = None if rng.random() < LIB_RATING_NULL else rng.choice([0, 20, 40, 60, 80, 100])
        tracks.append({
            "Track ID": tid, "Name": f"Song {i} <{rng.choice(BASE_WORDS)}>",
            "Artist": artists[a], "Album": alb,
            "Genre": rng.choices(genres, genre_w)[0], "Kind": "MPEG audio file",
            "Rating": rating, "Total Time": rng.randrange(60000, 600000),
            "Track Number": rng.randrange(1, 20), "Size": rng.randrange(2_000_000, 20_000_000),
            "Play Count": rng.randrange(0, 300), "Persistent ID": f"{seed & 0xffff:04X}{i:012X}",
            "Location": f"file://localhost/Music/{artists[a]}/{alb or 'Unknown'}/{i:05d}.mp3",
            "Year": rng.randrange(1960, 2025), "Bit Rate": rng.choice([128, 192, 256, 320]),
            "Sample Rate": 44100,
        })
    ids = [t["Track ID"] for t in tracks]
    rating_of = {t["Track ID"]: t["Rating"] for t in tracks}

    # folder tree: folder k's parent is a random earlier folder (or the root)
    playlists = [{"Name": "Library", "Playlist ID": 1, "Master": True,
                  "Playlist Persistent ID": f"{seed & 0xffff:04X}00000000MAST",
                  "items": list(ids)}]
    folders = []
    for k in range(LIB_FOLDERS):
        ppid = f"{seed & 0xffff:04X}F{k:011X}"
        parent = rng.choice(folders) if folders and rng.random() < 0.6 else None
        folders.append(ppid)
        playlists.append({"Name": f"Folder {k:02d}", "Playlist ID": 2 + k, "Folder": True,
                          "Playlist Persistent ID": ppid, "Parent Persistent ID": parent,
                          "items": []})
    for p in range(LIB_PLAYLISTS):
        n = LIB_PAGE_SIZES[p % len(LIB_PAGE_SIZES)]
        playlists.append({
            "Name": f"Playlist {p:03d}", "Playlist ID": 100 + p,
            "Playlist Persistent ID": f"{seed & 0xffff:04X}P{p:011X}",
            "Parent Persistent ID": rng.choice(folders) if rng.random() < 0.7 else None,
            "items": rng.sample(ids, n)})

    def val(v):
        if isinstance(v, bool):
            return "<true/>" if v else "<false/>"
        if isinstance(v, int):
            return f"<integer>{v}</integer>"
        return f"<string>{escape(v)}</string>"

    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n',
             '<!DOCTYPE plist PUBLIC "-//Apple//DTD PLIST 1.0//EN" '
             '"http://www.apple.com/DTDs/PropertyList-1.0.dtd">\n',
             '<plist version="1.0">\n<dict>\n',
             "\t<key>Major Version</key><integer>1</integer>\n",
             "\t<key>Tracks</key>\n\t<dict>\n"]
    for t in tracks:
        parts.append(f"\t\t<key>{t['Track ID']}</key>\n\t\t<dict>\n")
        for k, v in t.items():
            if v is not None:
                parts.append(f"\t\t\t<key>{k}</key>{val(v)}\n")
        parts.append(f"\t\t\t<key>Date Added</key><date>20{10 + t['Track ID'] % 14}"
                     f"-0{1 + t['Track ID'] % 9}-1{t['Track ID'] % 10}T12:00:00Z</date>\n")
        parts.append("\t\t</dict>\n")
    parts.append("\t</dict>\n\t<key>Playlists</key>\n\t<array>\n")
    for p in playlists:
        parts.append("\t\t<dict>\n")
        for k, v in p.items():
            if k != "items" and v is not None:
                parts.append(f"\t\t\t<key>{k}</key>{val(v)}\n")
        if p["items"]:
            parts.append("\t\t\t<key>Playlist Items</key>\n\t\t\t<array>\n")
            for tid in p["items"]:
                parts.append(f"\t\t\t\t<dict><key>Track ID</key><integer>{tid}</integer></dict>\n")
            parts.append("\t\t\t</array>\n")
        parts.append("\t\t</dict>\n")
    parts.append("\t</array>\n</dict>\n</plist>\n")
    with open(os.path.join(out, "library.xml"), "w", encoding="utf-8") as f:
        f.write("".join(parts))

    def hist(items):
        h = {}
        for tid in items:
            r = rating_of[tid]
            s = 0 if r is None else r // 20
            h[s] = h.get(s, 0) + 1
        return {str(k): v for k, v in sorted(h.items())}

    # the page order: groups of one playlist per size, so every run of
    # len(LIB_PAGE_SIZES) pages does the same amount of work whatever the seed
    regular = playlists[1 + LIB_FOLDERS:]
    k = len(LIB_PAGE_SIZES)
    groups = [rng.sample(regular[g:g + k], k) for g in range(0, len(regular), k)]
    rng.shuffle(groups)
    star_all = hist(ids)
    return {
        "num_tracks": LIB_TRACKS,
        "num_albums": len({t["Album"] for t in tracks if t["Album"] is not None}),
        "num_artists": len({t["Artist"] for t in tracks}),
        "stars_histogram": star_all,
        "pages": [{"name": p["Name"], "rows": len(p["items"]), "stars": hist(p["items"])}
                  for grp in groups for p in grp],
    }


# ---------------------------------------------------------------------------
def gen_replica(seed: int, out: str) -> dict:
    """The curation_batch corpus: documents.parquet with the sf0.1 shares.

    The corpus depends on the seed's variant only (seed mod REP_VARIANTS),
    so every seed has a committed expected report.
    """
    variant = seed % REP_VARIANTS
    rng = random.Random(variant * 7919 + 2)
    sources = dealt(rng, [f"src{i}" for i in range(REP_SOURCES)], [1] * REP_SOURCES, REP_DOCS)
    langs = dealt(rng, list(REP_LANGS), list(REP_LANGS.values()), REP_DOCS)
    shares = {"exact": REP_EXACT_DUP, "near": REP_NEAR_DUP, "contam": REP_CONTAM}
    kinds = [k for k, s in shares.items() for _ in range(round(s * REP_DOCS))]
    kinds += ["plain"] * (REP_DOCS - len(kinds))
    rng.shuffle(kinds)
    rows, planted, held, used = [], dict.fromkeys(shares, 0), [], set()
    for doc_id, kind in enumerate(kinds):
        train = not held_out(doc_id)
        if kind == "contam" and not (held and train):
            kind = "plain"  # no held-out doc to copy from yet
        if kind in ("exact", "near") and len(used) < len(rows):
            # a doc is copied at most once, so two near copies of one doc
            # do not add byte-identical pairs beyond the exact share
            src = rng.choice([i for i in range(len(rows)) if i not in used])
            used.add(src)
            text = rows[src][1] if kind == "exact" else rows[src][1] + " dup"
        elif kind == "contam":
            h = held[rng.randrange(len(held))].split()
            at = rng.randrange(0, len(h) - 12)
            text = " ".join(words(rng, rng.randrange(10, 40)) + h[at:at + 12] +
                            words(rng, rng.randrange(10, 40)))
        else:
            kind = "plain"
            text = " ".join(words(rng, rng.randrange(REP_LEN[0], REP_LEN[1] + 1)))
        if kind != "plain":
            planted[kind] += 1
        rows.append((doc_id, text, langs[doc_id], sources[doc_id]))
        if not train and len(text.split()) >= 30:
            held.append(text)
    write_docs(rows, os.path.join(out, "documents.parquet"))
    return {"docs": len(rows), "variant": variant, "planted": planted}


GENERATORS = {"itdb_library": gen_library, "curation_batch": gen_replica}


def digests(root: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, root)
            if rel in ("manifest.json", "truth.json"):
                continue
            with open(p, "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def materialize(workload: str, seed: int, cache: str) -> str:
    """The workload's input directory for `seed`, generated on first use.

    Raises RuntimeError when the generator is not deterministic or a cached
    input no longer matches its recorded digest.
    """
    with open(__file__, "rb") as f:  # a changed generator must not reuse old inputs
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(cache, f"{workload}-{seed}-{version}")
    man = os.path.join(d, "manifest.json")
    if os.path.exists(man):
        with open(man) as f:
            recorded = json.load(f)["digests"]
        if digests(d) != recorded:
            raise RuntimeError(f"cached inputs under {d} differ from their manifest")
        return d
    tmp, twin = d + ".tmp", d + ".twin"
    for p in (tmp, twin):
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
    truth = GENERATORS[workload](seed, tmp)
    truth_twin = GENERATORS[workload](seed, twin)
    first, second = digests(tmp), digests(twin)
    shutil.rmtree(twin)
    if first != second or truth != truth_twin:
        shutil.rmtree(tmp)
        raise RuntimeError(f"{workload} generator is not deterministic for seed {seed}")
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "digests": first,
                   "properties": PROPERTIES[workload]}, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
