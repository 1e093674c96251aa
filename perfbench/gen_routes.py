"""Seeded synthetic cycle-route corpus in EPSG:27700 (British National Grid).

The output is a pure function of ``(seed, n_routes)``: the same arguments
give byte-identical files. The program under test only ever sees the files.

Layout written under ``out_dir``:

- ``corpus/``: the initial load. FeatureCollection files, bare ``[Feature,
  ...]`` list files and single-Feature files, plus ``corrupt.geojson``
  (a truncated document that the scan must route to ``_corrupt_record``).
- ``delta/``: a re-delivery in which about a quarter of the features carry
  new route ids and the rest repeat ids already in ``corpus/``.
- ``manifest.json``: what a correct pipeline must produce (see ``Corpus``).

Properties follow the reference ``cycling_routes`` schema. Vertex counts per
route are long-tailed (lognormal, capped); the multiset of counts depends on
``n_routes`` only and the seed permutes it, so every seed carries the same
amount of work. ``local_authority`` is zipf-skewed over the 32 Scottish
councils, with some NULLs.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

MEAN_VERTICES = 40
MAX_VERTICES = 600
STEP_M = 45.0
NULL_AUTHORITY_FRAC = 0.04
DELTA_NEW_FRAC = 0.25
CORRUPT_FILE = "corrupt.geojson"
FORMAT_VERSION = 2

COUNCILS = [
    "Aberdeen City", "Aberdeenshire", "Angus", "Argyll and Bute",
    "City of Edinburgh", "Clackmannanshire", "Dumfries and Galloway",
    "Dundee City", "East Ayrshire", "East Dunbartonshire", "East Lothian",
    "East Renfrewshire", "Falkirk", "Fife", "Glasgow City", "Highland",
    "Inverclyde", "Midlothian", "Moray", "Na h-Eileanan Siar",
    "North Ayrshire", "North Lanarkshire", "Orkney Islands",
    "Perth and Kinross", "Renfrewshire", "Scottish Borders",
    "Shetland Islands", "South Ayrshire", "South Lanarkshire", "Stirling",
    "West Dunbartonshire", "West Lothian",
]
ROUTE_TYPES = ["Cycle Lane", "Cycle Path", "Mixed Use Path", "Shared Use Path",
               "Quiet Route", None]
SURFACES = ["Tarmac", "Gravel", "Compacted", "Boardwalk", None]
TRAFFIC = ["Traffic Free", "On Road", "Shared", None]
STREETS = ["High Street", "Canal Path", "Station Road", "Riverside Walk",
           "Mill Lane", "Railway Path", "Park Avenue", "Shore Road"]
LOCALITIES = ["Leith", "Partick", "Portobello", "Stockbridge", "Govan",
              "Kelvinside", "Dunfermline", "Bearsden", "Musselburgh", None]

# generated coordinates stay inside this easting/northing box (start points
# drawn inside it shrunk by the longest walk), which reprojects to well
# within the Scotland lon/lat envelope checked after processing
EASTING = (230_000.0, 370_000.0)
NORTHING = (640_000.0, 860_000.0)
SCOTLAND_LON = (-8.7, -0.7)
SCOTLAND_LAT = (54.6, 60.9)


@dataclass(frozen=True)
class Corpus:
    """Paths and expected outcomes for one generated corpus."""

    corpus_glob: str
    delta_glob: str
    n_valid: int  # features in corpus/ (the corrupt file holds none)
    n_delta: int  # features in delta/
    n_delta_new: int  # delta features whose route_id is not in corpus/
    n_vertices: int
    input_bytes: int  # bytes of corpus/, corrupt file included
    route_ids: tuple[str, ...]  # corpus/ route ids
    delta_new_ids: tuple[str, ...]


def _vertex_counts(n: int) -> np.ndarray:
    """The corpus's vertex counts, mean MEAN_VERTICES, independent of the seed."""
    raw = np.random.default_rng(27700).lognormal(mean=0.0, sigma=0.9, size=n)
    counts = np.clip(np.rint(raw / raw.mean() * MEAN_VERTICES), 2, MAX_VERTICES)
    counts = counts.astype(np.int64)
    # pin the total so every seed yields the same amount of work
    diff = n * MEAN_VERTICES - int(counts.sum())
    order = np.argsort(-counts)
    i = 0
    while diff != 0:
        j = order[i % n]
        step = 1 if diff > 0 else -1
        if 2 <= counts[j] + step <= MAX_VERTICES:
            counts[j] += step
            diff -= step
        i += 1
    return counts


def _authority_weights(rng: np.random.Generator) -> np.ndarray:
    ranks = np.arange(1, len(COUNCILS) + 1, dtype=np.float64)
    w = 1.0 / ranks**1.1
    return w[rng.permutation(len(COUNCILS))] / w.sum()


def _pick(rng: np.random.Generator, values: list, n: int) -> list:
    return [values[i] for i in rng.integers(len(values), size=n)]


def _features(rng: np.random.Generator, ids: list[str], weights: np.ndarray) -> list[str]:
    """Random-walk LineStrings with reference-schema properties, as JSON text."""
    n = len(ids)
    counts = rng.permutation(_vertex_counts(n))
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    total = int(counts.sum())
    reach = MAX_VERTICES * STEP_M
    e0 = rng.uniform(EASTING[0] + reach, EASTING[1] - reach, n)
    n0 = rng.uniform(NORTHING[0] + reach, NORTHING[1] - reach, n)
    # per-vertex heading drift and step length; the first vertex of each
    # route gets a zero step so a segmented cumsum yields the walk
    turn = rng.normal(0, 0.25, total)
    step = rng.uniform(0.5, 1.5, total) * STEP_M
    step[starts] = 0.0
    heading = np.cumsum(turn)
    heading += np.repeat(rng.uniform(0, 2 * np.pi, n) - heading[starts], counts)
    dx, dy = np.cumsum(step * np.cos(heading)), np.cumsum(step * np.sin(heading))
    xs = np.round(np.repeat(e0, counts) + dx - np.repeat(dx[starts], counts), 1)
    ys = np.round(np.repeat(n0, counts) + dy - np.repeat(dy[starts], counts), 1)
    pairs = [f"[{x!r}, {y!r}]" for x, y in zip(xs.tolist(), ys.tolist())]

    la_idx = rng.choice(len(COUNCILS), size=n, p=weights)
    la_null = rng.random(n) < NULL_AUTHORITY_FRAC
    cols = {
        "street": _pick(rng, STREETS, n),
        "locality": _pick(rng, LOCALITIES, n),
        "type": _pick(rng, ROUTE_TYPES, n),
        "notes": [None if r < 0.7 else f"segment {k}"
                  for r, k in zip(rng.random(n), rng.integers(1000, size=n))],
        "surface": _pick(rng, SURFACES, n),
        "ncn_route": [None if r < 0.6 else f"NCN {k}"
                      for r, k in zip(rng.random(n), rng.integers(1, 80, size=n))],
        "traffic": _pick(rng, TRAFFIC, n),
        "month": rng.integers(1, 13, size=n),
        "day": rng.integers(1, 29, size=n),
        "src_id": rng.integers(1, 10_000, size=n),
    }
    feats = []
    for i in range(n):
        la = None if la_null[i] else COUNCILS[la_idx[i]]
        props = {
            "route_id": ids[i],
            "street": cols["street"][i],
            "locality": cols["locality"][i],
            "type": cols["type"][i],
            "notes": cols["notes"][i],
            "surface": cols["surface"][i],
            "ncn_route": cols["ncn_route"][i],
            "traffic": cols["traffic"][i],
            "local_authority": la,
            "la_s_code": None if la is None else f"S120000{la_idx[i]:02d}",
            "sh_date_uploaded": f"2024-{cols['month'][i]:02d}-{cols['day'][i]:02d}",
            "sh_src": "synthetic",
            "sh_src_id": float(cols["src_id"][i]),
        }
        s, k = int(starts[i]), int(counts[i])
        feats.append(
            '{"type": "Feature", "properties": ' + json.dumps(props)
            + ', "geometry": {"type": "LineString", "coordinates": ['
            + ", ".join(pairs[s:s + k]) + "]}}"
        )
    return feats


def _write_envelopes(feats: list[str], out: str, prefix: str, n_fc: int, n_list: int,
                     n_single: int) -> None:
    """Spread ``feats`` over FeatureCollection, bare-list and single-Feature files."""
    os.makedirs(out)
    singles, rest = feats[:n_single], feats[n_single:]
    for i, f in enumerate(singles):
        with open(os.path.join(out, f"{prefix}single_{i:02d}.geojson"), "w") as fh:
            fh.write(f)
    chunks = np.array_split(np.arange(len(rest)), n_fc + n_list)
    for i, idx in enumerate(chunks):
        body = "[" + ",\n".join(rest[j] for j in idx) + "]"
        if i < n_fc:
            body = '{"type": "FeatureCollection", "features": ' + body + "}"
        kind = "fc" if i < n_fc else "list"
        with open(os.path.join(out, f"{prefix}{kind}_{i:02d}.geojson"), "w") as fh:
            fh.write(body)


def generate(out_dir: str, seed: int, n_routes: int) -> Corpus:
    """Write (or reuse) the corpus for ``(seed, n_routes)`` under ``out_dir``."""
    manifest = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            m = json.load(fh)
        if m.get("key") == [FORMAT_VERSION, seed, n_routes]:
            return Corpus(**{k: tuple(v) if isinstance(v, list) else v
                             for k, v in m["corpus"].items()})
    shutil.rmtree(out_dir, ignore_errors=True)
    rng = np.random.default_rng([seed, 27700])
    weights = _authority_weights(rng)
    ids = [f"R{seed % 1000:03d}-{i:06d}" for i in range(n_routes)]
    feats = _features(rng, ids, weights)
    corpus = os.path.join(out_dir, "corpus")
    _write_envelopes(feats, corpus, "routes_", n_fc=5, n_list=2, n_single=3)
    with open(os.path.join(corpus, CORRUPT_FILE), "w") as fh:
        fh.write('{"type": "FeatureCollection", "features": [{"type": "Feat')

    n_resent = int(n_routes * (1 - DELTA_NEW_FRAC))
    resent = [feats[i] for i in sorted(rng.choice(n_routes, size=n_resent, replace=False))]
    n_new = int(round(n_resent * DELTA_NEW_FRAC / (1 - DELTA_NEW_FRAC)))
    new_ids = [f"R{seed % 1000:03d}-{n_routes + i:06d}" for i in range(n_new)]
    delta_feats = resent + _features(rng, new_ids, weights)
    order = rng.permutation(len(delta_feats))
    _write_envelopes([delta_feats[i] for i in order], os.path.join(out_dir, "delta"),
                     "delta_", n_fc=2, n_list=1, n_single=1)

    input_bytes = sum(os.path.getsize(os.path.join(corpus, f)) for f in os.listdir(corpus))
    result = Corpus(
        corpus_glob=os.path.join(corpus, "*.geojson"),
        delta_glob=os.path.join(out_dir, "delta", "*.geojson"),
        n_valid=n_routes,
        n_delta=len(delta_feats),
        n_delta_new=n_new,
        n_vertices=n_routes * MEAN_VERTICES,
        input_bytes=input_bytes,
        route_ids=tuple(ids),
        delta_new_ids=tuple(new_ids),
    )
    with open(manifest, "w") as fh:
        json.dump({"key": [FORMAT_VERSION, seed, n_routes],
                   "corpus": result.__dict__}, fh)
    return result
