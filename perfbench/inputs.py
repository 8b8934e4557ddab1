"""Seeded benchmark inputs and their expected outputs.

A workload's inputs are a pure function of (workload, seed, size). They
are written as parquet into one directory at the start of each
benchmark run, outside all timing, together with the outputs the
engine must produce on them. Writing them every run, in a JVM that
stops before the measuring one starts, gives every run the same
history whether or not an earlier run had the same seed.

The expectations are derived here, off the Spark path under test:
geotags are parsed with a pyarrow regex, cells come from the NumPy
kernel (``kernel.cells.encode_index``) and polygon membership from a
bbox-prefiltered brute force over ``kernel.regions.points_in_polygon``.
They are computed by running this file as a script, in a process
without a JVM, so the arrays it builds never count towards the
benchmark's peak RSS:

    python3 perfbench/inputs.py --workload fleet_join --seed 1 --dir <dir>
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

RES = {"pages_rollup": 9, "fleet_join": 7}
TILE_RES = 2
# Input rows per workload. Warm runs are dominated by per-run fixed
# cost (pages_rollup takes ~2 s at 100k-300k pages, fleet_join ~4-6 s),
# so the sizes are what keeps input generation and the cold run inside
# the benchmark's time budget of ~70 s per run on a 4-core box.
SIZES = {"pages_rollup": 100_000, "fleet_join": 100_000}

# Fleet centres: 8 of the synthetic pages' urban hot spots. London and
# Paris sit above the 41.8 deg HEALPix band edge, so their candidate
# cells come from the polar-cap path of operators.tiling.
FLEET_CENTRES = [
    ("nyc", -74.0060, 40.7128), ("london", -0.1278, 51.5074),
    ("tokyo", 139.6917, 35.6895), ("paris", 2.3522, 48.8566),
    ("saopaulo", -46.6333, -23.5505), ("sydney", 151.2093, -33.8688),
    ("singapore", 103.8198, 1.3521), ("mumbai", 72.8777, 19.0760),
]
# A 6x6 mosaic (299 polygons) over 2M points takes ~17 s per warm run
# on 4 cores; 2x2 (43 polygons) over 100k points takes ~4 s, which
# keeps fleet_join inside the benchmark's time budget. The per-run
# cost is mostly fixed (fleet prep, tiling, shuffle stages): 3x3 (83
# polygons) over the same points takes ~5 s.
MOSAIC = 2
QUAD_DEG = 0.05
METRO_HALF_DEG = 0.5
GEOTAG_RE = r'geo\.position" content="(?P<lat>-?[0-9.,]+);(?P<lon>-?[0-9.,]+)"'


def _quad(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def make_fleet(seed: int) -> list[tuple[str, list, list]]:
    """43 seeded polygons as (zone, exterior, holes): a 2x2 mosaic of
    0.05 deg quads and a +/-0.5 deg metro quad with a hole around each
    centre, plus one dateline-crossing, one north-cap and one south-cap
    polygon. The dateline polygon is given unwrapped (lon past 180)."""
    rng = np.random.default_rng(seed)
    fleet = []
    for name, lon, lat in FLEET_CENTRES:
        dx, dy = rng.uniform(-0.02, 0.02, 2)
        x0 = lon - MOSAIC * QUAD_DEG / 2 + dx
        y0 = lat - MOSAIC * QUAD_DEG / 2 + dy
        for j in range(MOSAIC):
            for i in range(MOSAIC):
                fleet.append((
                    f"{name}_q{j}{i}",
                    _quad(x0 + i * QUAD_DEG, y0 + j * QUAD_DEG,
                          x0 + (i + 1) * QUAD_DEG, y0 + (j + 1) * QUAD_DEG),
                    [],
                ))
        hx, hy = rng.uniform(-0.3, 0.3, 2)
        h = METRO_HALF_DEG
        fleet.append((
            f"{name}_metro",
            _quad(lon - h, lat - h, lon + h, lat + h),
            [_quad(lon + hx - 0.05, lat + hy - 0.05, lon + hx + 0.05, lat + hy + 0.05)],
        ))
    # The cap polygons each hold one fixed polar probe point of the
    # synthetic tables ((0, 84) and (135, -84)).
    e = rng.uniform(-0.2, 0.2, 3)
    fleet.append(("edge_dateline", _quad(179.2 + e[0], -17.3, 180.8 + e[0], -15.7), []))
    fleet.append(("edge_north_cap", _quad(-1.1, 83.1 + e[1], 0.9, 84.9), []))
    fleet.append(("edge_south_cap", _quad(134.1, -84.9, 135.9, -83.1 + e[2]), []))
    return fleet


def fleet_vertex_table(fleet):
    """The (zone, part, ring, vtx, lon, lat) vertex table that
    operators.joins.polygon_join_df consumes; lon wrapped to [-180, 180)."""
    import pyarrow as pa

    cols = {k: [] for k in ("zone", "part", "ring", "vtx", "lon", "lat")}
    for zone, ext, holes in fleet:
        for ri, ring in enumerate([ext, *holes]):
            for vi, (x, y) in enumerate(ring):
                cols["zone"].append(zone)
                cols["part"].append(0)
                cols["ring"].append(ri)
                cols["vtx"].append(vi)
                cols["lon"].append(x - 360.0 if x >= 180.0 else x)
                cols["lat"].append(y)
    return pa.table({
        "zone": pa.array(cols["zone"], pa.string()),
        "part": pa.array(cols["part"], pa.int32()),
        "ring": pa.array(cols["ring"], pa.int32()),
        "vtx": pa.array(cols["vtx"], pa.int32()),
        "lon": pa.array(cols["lon"], pa.float64()),
        "lat": pa.array(cols["lat"], pa.float64()),
    })


def parse_geotags(html):
    """(has_tag mask, lon, lat) of the pages' geo.position tags, parsed
    from the html column with the same grammar as
    sources.pages.extract_geotags; lon/lat cover the tagged rows only."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = pc.extract_regex(html.cast(pa.string()), GEOTAG_RE)
    has = m.is_valid()
    m = m.filter(has)

    def num(field):
        return pc.cast(pc.replace_substring(m.field(field), ",", ""), pa.float64()).to_numpy()

    return has, num("lon"), num("lat")


def encode_chunked(lon, lat, res, chunk: int = 16384) -> np.ndarray:
    """kernel.cells.encode_index over 16,384-row chunks, like the
    engine's Arrow encode UDF."""
    from rhealpixdggs_spark.kernel import cells as KC
    from rhealpixdggs_spark.kernel.constants import WGS84_003

    out = np.empty(lon.shape[0], dtype=np.int64)
    for s in range(0, lon.shape[0], chunk):
        out[s:s + chunk] = KC.encode_index(WGS84_003, lon[s:s + chunk], lat[s:s + chunk], res)
    return out


def expected_rollup(lon, lat, lang, res: int = 9, tile_res: int = TILE_RES) -> dict:
    """Per-tile (n_pages, n_langs) for every res-`tile_res` tile:
    NumPy encode, integer-divide to the parent, bincount. `lang` is a
    pyarrow string array aligned with lon/lat."""
    import pyarrow.compute as pc

    from rhealpixdggs_spark.kernel import cells as KC
    from rhealpixdggs_spark.kernel.constants import WGS84_003 as cfg

    idx = encode_chunked(lon, lat, res)
    if (idx < 0).any():
        raise ValueError("reference encode left points outside the grid")
    b = cfg.N_side**2
    base_r = cfg.num_cells(0, res - 1)
    base_p = cfg.num_cells(0, tile_res - 1)
    n_tiles = 6 * b**tile_res
    tile = (idx - base_r) // b ** (res - tile_res)
    n_pages = np.bincount(tile, minlength=n_tiles)
    codes = pc.dictionary_encode(lang)
    lang_code = codes.indices.to_numpy()
    seen = np.zeros((n_tiles, len(codes.dictionary)), dtype=bool)
    seen[tile, lang_code] = True
    face, digits = KC.suid_from_level_order_index(
        cfg, np.arange(n_tiles, dtype=np.int64) + base_p, tile_res
    )
    tile_ids = KC.suid_strings(face, digits)
    return {
        "tiles": {str(t): [int(n), int(k)] for t, n, k in
                  zip(tile_ids, n_pages, seen.sum(axis=1))},
        "geotagged": int(lon.shape[0]),
    }


def expected_fleet_pairs(pid, lon, lat, fleet) -> dict:
    """Brute-force (pid, zone) containment: bbox prefilter, then the
    kernel's even-odd points_in_polygon. The dateline polygon is tested
    in unwrapped longitudes, independent of the engine's split."""
    from rhealpixdggs_spark.kernel.regions import points_in_polygon

    zones = sorted(z for z, _, _ in fleet)
    code = {z: i for i, z in enumerate(zones)}
    keys = []
    for zone, ext, holes in fleet:
        e = np.asarray(ext, dtype=np.float64)
        px = np.where(lon < 0, lon + 360.0, lon) if e[:, 0].max() > 180 else lon
        sel = np.flatnonzero(
            (px >= e[:, 0].min()) & (px <= e[:, 0].max())
            & (lat >= e[:, 1].min()) & (lat <= e[:, 1].max())
        )
        inside = points_in_polygon(px[sel], lat[sel], ext, holes)
        keys.append(pid[sel[inside]] * len(zones) + code[zone])
    return {"zones": zones, "keys": np.sort(np.concatenate(keys))}


def write_tables(spark, out: str, workload: str, seed: int, probes: bool = False) -> None:
    """Write the workload's input tables into the empty directory `out`
    with the engine's synthesizers, in the given session. With `probes`,
    fleet_join also gets the pages table that the sources probe reads."""
    from rhealpixdggs_spark.sources.pages import synthesize_pages, synthesize_points

    if workload == "pages_rollup" or probes:
        synthesize_pages(spark, SIZES["pages_rollup"], seed=seed).write.parquet(
            os.path.join(out, "pages"))
    if workload == "fleet_join":
        synthesize_points(spark, SIZES[workload], seed=seed).write.parquet(
            os.path.join(out, "points"))


def write_expectations(out: str, workload: str, seed: int) -> None:
    """Derive and pin the expected outputs of the tables write_tables
    wrote into `out` (meta.json, and for fleet_join the fleet itself
    and expected_keys.npy). Every workload gets the fleet, which the
    tiling and joins probes read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = {"workload": workload, "seed": seed, "rows": SIZES[workload], "res": RES[workload]}
    fleet = make_fleet(seed)
    meta["polygons"] = len(fleet)
    pq.write_table(fleet_vertex_table(fleet), os.path.join(out, "fleet.parquet"))
    if workload == "pages_rollup":
        t = pq.read_table(os.path.join(out, "pages"), columns=["html", "lang"])
        has, lon, lat = parse_geotags(t.column("html").combine_chunks())
        lang = t.column("lang").combine_chunks().filter(has)
        meta["expected"] = expected_rollup(lon, lat, lang)
        # the extracted coordinates, for the functions/kernel/joins
        # probes, which isolate those layers from the html decode
        pq.write_table(pa.table({"pid": np.arange(lon.shape[0], dtype=np.int64),
                                 "lon": lon, "lat": lat}),
                       os.path.join(out, "coords.parquet"))
    else:
        t = pq.read_table(os.path.join(out, "points"), columns=["pid", "lon", "lat"])
        lon = t.column("lon").to_numpy()
        lat = t.column("lat").to_numpy()
        exp = expected_fleet_pairs(t.column("pid").to_numpy(), lon, lat, fleet)
        np.save(os.path.join(out, "expected_keys.npy"), exp["keys"])
        meta["expected"] = {"zones": exp["zones"], "pairs": int(exp["keys"].shape[0])}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


def check_rollup(pdf, expected: dict) -> list[str]:
    """Problems with a rollup result (tile_id, n_pages, n_langs, ...)
    against the pinned per-tile expectation; empty when it matches."""
    tiles = expected["tiles"]
    problems = []
    if len(pdf) != len(tiles):
        problems.append(f"{len(pdf)} tiles, expected {len(tiles)}")
    got = {str(t): [int(n), int(k)] for t, n, k in
           zip(pdf["tile_id"], pdf["n_pages"], pdf["n_langs"])}
    for t, want in tiles.items():
        if got.get(t) != want:
            problems.append(f"tile {t}: (n_pages, n_langs) {got.get(t)}, expected {want}")
    total = int(pdf["n_pages"].sum())
    if total != expected["geotagged"]:
        problems.append(f"sum(n_pages) {total}, expected {expected['geotagged']}")
    return problems


def check_pairs(pid, zone, zones: list[str], expected_keys: np.ndarray) -> list[str]:
    """Problems with a (pid, zone) join result against the pinned
    brute-force pairs; empty when they match as multisets."""
    code = {z: i for i, z in enumerate(zones)}
    unknown = sorted(set(zone) - code.keys())
    if unknown:
        return [f"unknown zones {unknown[:3]}"]
    keys = np.sort(np.asarray(pid, dtype=np.int64) * len(zones)
                   + np.fromiter((code[z] for z in zone), np.int64, len(zone)))
    if keys.shape != expected_keys.shape:
        return [f"{keys.shape[0]} (pid, zone) rows, expected {expected_keys.shape[0]}"]
    bad = np.flatnonzero(keys != expected_keys)
    if bad.size:
        return [f"{bad.size} (pid, zone) rows differ from the brute force"]
    return []


def main() -> None:
    ap = argparse.ArgumentParser(description="Pin the expected outputs of one dataset.")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True, help="directory write_tables wrote")
    a = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    write_expectations(a.dir, a.workload, a.seed)


if __name__ == "__main__":
    main()
