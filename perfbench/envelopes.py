"""Seeded CalTopo envelope generator for the ETL workloads.

Each map's envelope mixes the FIXTURES.md A.3 quirk families at fixed
shares (null geometry, 4- and 5-element positions, Folder rows with
members and dangling ``folderId``s, styled Points and non-Points that
carry ``marker-color``, explicit JSON nulls, empty descriptions, and a
small ``GeometryCollection`` share whose ragged coordinates go through
the Arrow walker in ``caltopo.geometry``).

The generator also writes down what the engine must deliver, from the
generation rules alone: one expected entry per delivered feature id,
with the folder path it must carry.  Nothing here calls the engine.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

#: share of non-Folder features per geometry family; the remainder of
#: each draw is split by the cumulative thresholds below
_GEOMETRY_SHARES = [
    ("Point", 0.40),
    ("LineString", 0.20),
    ("Polygon", 0.14),
    ("MultiLineString", 0.08),
    ("MultiPoint", 0.05),
    ("MultiPolygon", 0.05),
    ("GeometryCollection", 0.02),
    (None, 0.06),  # null geometry (SARTopo operational periods): dropped
]
FOLDERS_PER_MAP = 4
#: folder ids are reused across maps, so a member of folder-k in one map
#: must never pick up the title of folder-k in another map
DANGLING_FOLDER = f"folder-{FOLDERS_PER_MAP}"
EXTRA_DIMS_SHARE = 0.2  # positions with 4 or 5 elements
MEMBER_SHARE = 0.5
DANGLING_SHARE = 0.1
EXPLICIT_NULL_SHARE = 0.1
EMPTY_DESCRIPTION_SHARE = 0.1
_WORDS = "ridge trail camp creek saddle spur drainage road gate helispot staging".split()


@dataclass
class ExpectedFeature:
    share_id: str
    path: str | None
    geometry_type: str


@dataclass
class Corpus:
    """The generated envelopes (exact bytes served per map) and the
    delivery the engine owes for them."""

    bodies: dict[str, bytes]
    expected: dict[str, ExpectedFeature]
    folders: int = 0
    features: int = 0
    share_ids: list[str] = field(default_factory=list)


def _position(rng: random.Random, extra: bool) -> list[float]:
    pos = [round(rng.uniform(-125.0, -100.0), 6), round(rng.uniform(30.0, 49.0), 6)]
    if extra:
        pos.append(round(rng.uniform(0.0, 4000.0), 1))
        pos.append(float(rng.randrange(1_600_000_000, 1_700_000_000)))
        if rng.random() < 0.5:
            pos.append(round(rng.random(), 3))
    return pos


def _line(rng: random.Random, extra: bool, n: int) -> list[list[float]]:
    return [_position(rng, extra) for _ in range(n)]


def _ring(rng: random.Random, extra: bool, n: int) -> list[list[float]]:
    ring = _line(rng, extra, n)
    return ring + [list(ring[0])]


def _coordinates(rng: random.Random, gtype: str, extra: bool):
    if gtype == "Point":
        return _position(rng, extra)
    if gtype in ("LineString", "MultiPoint"):
        return _line(rng, extra, rng.randint(4, 12))
    if gtype == "Polygon":
        return [_ring(rng, extra, rng.randint(4, 8)) for _ in range(rng.randint(1, 2))]
    if gtype == "MultiLineString":
        return [_line(rng, extra, rng.randint(3, 6)) for _ in range(rng.randint(2, 3))]
    if gtype == "MultiPolygon":
        return [[_ring(rng, extra, rng.randint(4, 6))] for _ in range(rng.randint(2, 3))]
    # GeometryCollection carrying ragged coordinates: mixed nesting
    # depths in one array, which no typed schema covers
    return [_position(rng, True), _line(rng, extra, 3), [_ring(rng, extra, 4)]]


def _draw_geometry(rng: random.Random) -> str | None:
    u = rng.random()
    acc = 0.0
    for gtype, share in _GEOMETRY_SHARES:
        acc += share
        if u < acc:
            return gtype
    return _GEOMETRY_SHARES[-1][0]


def _feature(rng: random.Random, fid: str, gtype: str | None) -> dict:
    props: dict = {
        "title": f"{rng.choice(_WORDS)} {fid}",
        "class": "Marker" if gtype == "Point" else "Shape",
        "creator": f"user{rng.randrange(40)}",
        "updated": 1_700_000_000_000 + rng.randrange(10**9),
    }
    u = rng.random()
    if u < EMPTY_DESCRIPTION_SHARE:
        props["description"] = ""
    elif u < 0.6:
        props["description"] = " ".join(rng.choices(_WORDS, k=rng.randint(3, 12)))
    if gtype == "Point":
        props["marker-symbol"] = "point"
        props["marker-size"] = "1"
        if rng.random() < 0.5:
            props["marker-color"] = f"{rng.randrange(1 << 24):06X}"
            props["marker-rotation"] = str(rng.randrange(360))
    elif rng.random() < 0.25:
        props["marker-color"] = f"{rng.randrange(1 << 24):06X}"  # not '#'-prefixed
    if gtype not in (None, "Point") and rng.random() < 0.6:
        props["stroke"] = f"#{rng.randrange(1 << 24):06X}"
        props["stroke-opacity"] = round(rng.random(), 2)
        props["stroke-width"] = float(rng.randint(1, 6))
        props["pattern"] = "solid"
        if gtype in ("Polygon", "MultiPolygon"):
            props["fill"] = f"#{rng.randrange(1 << 24):06X}"
            props["fill-opacity"] = round(rng.random(), 2)
    if rng.random() < EXPLICIT_NULL_SHARE:
        props["fill"] = None
        props["fill-opacity"] = None
        props["icon"] = None
    elif rng.random() < 0.1:
        props["icon"] = "https://example.invalid/icon.png"
    if rng.random() < 0.3:
        props["visible"] = rng.random() < 0.8
        props["labelVisible"] = rng.random() < 0.5
    geometry = None
    if gtype is not None:
        extra = rng.random() < EXTRA_DIMS_SHARE
        geometry = {"type": gtype, "coordinates": _coordinates(rng, gtype, extra)}
    return {"id": fid, "type": "Feature", "properties": props, "geometry": geometry}


def generate(seed: int, maps: int, features_per_map: int) -> Corpus:
    """``maps`` envelopes of ``features_per_map`` features each
    (Folder rows included); the same arguments give the same bytes."""
    rng = random.Random(f"caltopo-envelopes/{seed}/{maps}/{features_per_map}")
    corpus = Corpus(bodies={}, expected={})
    for m in range(maps):
        sid = f"map{m:04d}"
        corpus.share_ids.append(sid)
        titles = {f"folder-{k}": f"Team {rng.choice(_WORDS)} {m}-{k}" for k in range(FOLDERS_PER_MAP)}
        # odd maps omit their last folder, so its members in those maps
        # dangle while the same id resolves in even maps
        present = dict(titles) if m % 2 == 0 else dict(list(titles.items())[:-1])
        features = [
            {
                "id": fid,
                "type": "Feature",
                "properties": {
                    "title": title,
                    "class": "Folder",
                    "creator": "planner",
                    "updated": 1_700_000_000_000,
                },
                "geometry": None,
            }
            for fid, title in present.items()
        ]
        corpus.folders += len(present)
        for i in range(features_per_map - len(present)):
            fid = f"{sid}-f{i:05d}"
            gtype = _draw_geometry(rng)
            feat = _feature(rng, fid, gtype)
            u = rng.random()
            if u < MEMBER_SHARE:
                feat["properties"]["folderId"] = rng.choice(list(titles))
            elif u < MEMBER_SHARE + DANGLING_SHARE:
                feat["properties"]["folderId"] = DANGLING_FOLDER
            features.append(feat)
            if gtype is None:
                continue
            folder = feat["properties"].get("folderId")
            path = f"/{present[folder]}" if folder in present else None
            corpus.expected[fid] = ExpectedFeature(sid, path, gtype)
        rng.shuffle(features)
        corpus.features += len(features)
        envelope = {
            "status": "ok",
            "timestamp": 1_700_000_001_000,
            "result": {
                "state": {"type": "FeatureCollection", "features": features},
                "timestamp": 1_700_000_000_500,
            },
        }
        corpus.bodies[sid] = json.dumps(envelope).encode("utf-8")
    return corpus


def _max_position_len(node) -> int:
    if isinstance(node, list):
        if node and all(isinstance(x, (int, float)) for x in node):
            return len(node)
        return max((_max_position_len(x) for x in node), default=0)
    return 0


def check_delivery(corpus: Corpus, delivered: list[dict], returned: int) -> list[str]:
    """Compare the features the sink accepted with the corpus's expected
    delivery.  Returns one problem string per wrong, missing or
    duplicated feature id (empty when the delivery is exact)."""
    problems: list[str] = []
    seen: set[str] = set()
    for feat in delivered:
        fid = feat.get("id")
        exp = corpus.expected.get(fid)
        if fid in seen:
            problems.append(f"{fid}: delivered twice")
            continue
        seen.add(fid)
        if exp is None:
            problems.append(f"{fid}: not expected")
            continue
        geom = feat.get("geometry") or {}
        if geom.get("type") != exp.geometry_type:
            problems.append(f"{fid}: geometry {geom.get('type')} != {exp.geometry_type}")
        elif _max_position_len(geom.get("coordinates")) > 3:
            problems.append(f"{fid}: position with more than 3 elements")
        elif feat.get("properties", {}).get("path") != exp.path:
            problems.append(f"{fid}: path {feat['properties'].get('path')!r} != {exp.path!r}")
    problems += [f"{fid}: missing" for fid in corpus.expected.keys() - seen]
    if returned != len(delivered):
        problems.append(f"submit returned {returned}, sink accepted {len(delivered)}")
    return problems
