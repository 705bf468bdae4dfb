"""Seeded input generator for the perfbench workloads.

Every input is a function of the seed alone. The program under test
receives only the files (CSV workloads) or the database (pg_migrate)
made here; the manifest with the expected outcome stays with the
benchmark, which checks the program's output against it.

Row digests: each expected row is rendered in a canonical text form that
PostgreSQL can reproduce from the loaded table (see `CSV_DIGEST_SQL`),
md5-hashed, and the first 15 hex digits of every row's hash are summed.
The sum does not depend on row order.
"""
import calendar
import hashlib
import json
import random
import time

from pathlib import Path

import numpy as np

DIVVY_COLUMNS = [
    ("ride_id", "text"), ("rideable_type", "text"),
    ("started_at", "timestamptz"), ("ended_at", "timestamptz"),
    ("start_station_name", "text"), ("start_station_id", "text"),
    ("end_station_name", "text"), ("end_station_id", "text"),
    ("start_lat", "double precision"), ("start_lng", "double precision"),
    ("end_lat", "double precision"), ("end_lng", "double precision"),
    ("member_casual", "text"),
]

# the canonical text of a good row as `gen_divvy` hashes it, computed by
# the server over what was loaded: timestamps as epoch seconds, coordinates as
# integer micro-degrees, NULL as \N
CSV_DIGEST_SQL = (
    "SELECT count(*)::text, coalesce(sum(('x' || left(md5(concat_ws('|', "
    "ride_id, rideable_type, "
    "extract(epoch FROM started_at)::bigint::text, "
    "extract(epoch FROM ended_at)::bigint::text, "
    "coalesce(start_station_name, '\\N'), coalesce(start_station_id, '\\N'), "
    "coalesce(end_station_name, '\\N'), coalesce(end_station_id, '\\N'), "
    "round(start_lat * 1000000)::bigint::text, "
    "round(start_lng * 1000000)::bigint::text, "
    "round(end_lat * 1000000)::bigint::text, "
    "round(end_lng * 1000000)::bigint::text, member_casual)), 15))"
    "::bit(60)::bigint), 0)::text FROM {table}")

STREETS = ["Clark", "Halsted", "Lincoln", "Damen", "Ashland", "Western",
           "Kedzie", "Milwaukee", "Broadway", "State", "Wabash", "Michigan",
           "Clinton", "Canal", "Wells", "Franklin", "LaSalle", "Dearborn",
           "Sheffield", "Racine", "Morgan", "Loomis", "Paulina", "Wood"]
CROSS = ["Elm St", "Oak St", "Division St", "North Ave", "Armitage Ave",
         "Fullerton Ave", "Diversey Pkwy", "Belmont Ave", "Addison St",
         "Irving Park Rd", "Montrose Ave", "Lawrence Ave", "Foster Ave",
         "Madison St", "Monroe St", "Adams St", "Jackson Blvd"]


def row_hash(text):
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


def _stations(rng, n=600):
    names, ids = [], []
    for i in range(n):
        s = STREETS[int(rng.integers(len(STREETS)))]
        c = CROSS[int(rng.integers(len(CROSS)))]
        # about one name in twelve carries a comma, so it arrives quoted
        names.append(f"{s} St (Temp, Relocated) & {c}" if i % 12 == 0
                     else f"{s} St & {c}")
        ids.append(f"TA{1300000 + i * 7}")
    lat = 41_780_000 + rng.integers(0, 340_000, n)
    lng = -87_780_000 + rng.integers(0, 280_000, n)
    return names, ids, lat, lng


def _degrees(micro):
    # exact: a micro-degree integer over 1e6 is within 1e-14 of the
    # decimal it stands for, far inside %.6f's rounding
    return [f"{v:.6f}" for v in (micro / 1e6).tolist()]


def _ts(epoch):
    y, mo, d, h, mi, s = time.gmtime(epoch)[:6]
    return f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"


def _timestamps(epochs):
    return [t.replace("T", " ") for t in np.datetime_as_string(
        epochs.astype("datetime64[s]"), unit="s").tolist()]


def gen_divvy(out_dir, seed, months, bad_every=0):
    """Write one Divvy-shaped trip CSV per (yyyymm, rows) in `months`.

    With `bad_every`, one row in that many (at seeded positions)
    carries a value the server refuses: a malformed double or an
    out-of-range timestamp. Returns the manifest."""
    rng = np.random.default_rng(seed)
    names, ids, lat, lng = _stations(rng)
    quoted = [f'"{n}"' if "," in n else n for n in names]
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    header = ",".join(c for c, _ in DIVVY_COLUMNS) + "\n"
    total, digest, bad = 0, 0, []
    for ym, n in months:
        year, month = divmod(ym, 100)
        t0 = calendar.timegm((year, month, 1, 0, 0, 0))
        kind = rng.random(n)
        rideable = np.where(kind < 0.45, "electric_bike", np.where(
            kind < 0.95, "classic_bike", "docked_bike"))
        a = rng.integers(0, len(names), n)
        b = rng.integers(0, len(names), n)
        start = t0 + rng.integers(0, 28 * 86400, n)
        end = start + 60 + rng.integers(0, 3600, n)
        ride = rng.integers(0, 2 ** 63, n)
        slat, slng = lat[a] + rng.integers(-500, 500, n), lng[a] + rng.integers(-500, 500, n)
        elat, elng = lat[b] + rng.integers(-500, 500, n), lng[b] + rng.integers(-500, 500, n)
        member = np.where(rng.random(n) < 0.62, "member", "casual")
        # about a quarter of e-bike trips start or end off-station
        ebike = rideable == "electric_bike"
        off_a = ebike & (rng.random(n) < 0.27)
        off_b = ebike & (rng.random(n) < 0.27)
        nbad = n // bad_every if bad_every else 0
        bad_kind = dict(zip(rng.choice(n, nbad, replace=False).tolist(),
                            (rng.random(nbad) < 0.5).tolist()))
        cols = [x.tolist() for x in (rideable, a, b, start, end, ride, slat,
                                     slng, elat, elng, member, off_a, off_b)]
        starts, ends = _timestamps(start), _timestamps(end)
        degs = [_degrees(x) for x in (slat, slng, elat, elng)]
        lines = [header]
        for i, (rt, ai, bi, st, en, rid, y1, x1, y2, x2, mc, oa, ob) in \
                enumerate(zip(*cols)):
            rid = f"{rid:016X}"
            ssn, ssid, qs = ("", "", "") if oa else (names[ai], ids[ai], quoted[ai])
            esn, esid, qe = ("", "", "") if ob else (names[bi], ids[bi], quoted[bi])
            s_ts, s_lat = starts[i], degs[0][i]
            if i in bad_kind:
                if bad_kind[i]:
                    s_lat = s_lat[:4] + "x" + s_lat[5:]
                    bad.append({"ride_id": rid, "kind": "double"})
                else:
                    s_ts = s_ts[:11] + "25" + s_ts[13:]
                    bad.append({"ride_id": rid, "kind": "timestamp"})
            else:
                total += 1
                digest += row_hash("|".join((
                    rid, rt, str(st), str(en), ssn or "\\N", ssid or "\\N",
                    esn or "\\N", esid or "\\N", str(y1), str(x1), str(y2),
                    str(x2), mc)))
            lines.append(",".join((rid, rt, s_ts, ends[i], qs, ssid, qe, esid,
                                   s_lat, degs[1][i], degs[2][i], degs[3][i], mc))
                         + "\n")
        (out_dir / f"{ym}-divvy-tripdata.csv").write_text("".join(lines))
    return {"rows": total, "digest": str(digest), "bad": bad}


def gen_migrate(seed, ntables, rows=20):
    """SQL that builds the pg_migrate source database: `ntables` tiny
    tables, each with a primary key and a secondary index, and on every
    10th table a foreign key to the one before. Values come from the
    seed only (no now(), no sequences). Returns (sql, manifest)."""
    rng = random.Random(seed)
    sql = ["SET client_min_messages = warning;",
           "DROP SCHEMA IF EXISTS public CASCADE;", "CREATE SCHEMA public;"]
    fks = 0
    for i in range(1, ntables + 1):
        fk = i % 10 == 0
        cols = ("id int PRIMARY KEY, name text NOT NULL, "
                "val numeric(10,2), ts timestamptz")
        if fk:
            cols += f", ref int REFERENCES t{i - 1}(id)"
            fks += 1
        sql.append(f"CREATE TABLE t{i} ({cols});")
        values = []
        for g in range(1, rows + 1):
            name = f"row_{rng.getrandbits(32):08x}"
            val = f"{rng.randrange(1_000_000) / 100:.2f}"
            ts = _ts(1_700_000_000 + rng.randrange(30_000_000))
            ref = f", {rng.randrange(1, rows + 1)}" if fk else ""
            values.append(f"({g}, '{name}', {val}, '{ts}+00'{ref})")
        sql.append(f"INSERT INTO t{i} VALUES {', '.join(values)};")
        sql.append(f"CREATE INDEX t{i}_name_idx ON t{i} (name);")
    sql.append("VACUUM ANALYZE;")
    manifest = {"tables": ntables, "rows_per_table": rows,
                "rows": ntables * rows, "indexes": 2 * ntables,
                "foreign_keys": fks}
    return "\n".join(sql) + "\n", manifest


def migrate_checks(ntables):
    """Catalog and content queries whose answers must be the same on the
    source and on the target database."""
    rows = " UNION ALL ".join(
        f"SELECT 't{i}', count(*)::text, "
        f"coalesce(sum(hashtext(x::text)::bigint), 0)::text FROM t{i} x"
        for i in range(1, ntables + 1))
    return {
        "tables": "SELECT c.relname::text, c.relnatts::text FROM pg_class c "
                  "JOIN pg_namespace n ON n.oid = c.relnamespace "
                  "WHERE n.nspname = 'public' AND c.relkind = 'r' ORDER BY 1",
        # index names may differ between the two sides; definitions not
        "indexes": "SELECT tablename::text, regexp_replace(indexdef, "
                   "'INDEX \\S+ ON', 'INDEX ON') FROM pg_indexes "
                   "WHERE schemaname = 'public' ORDER BY 1, 2",
        "constraints": "SELECT conrelid::regclass::text, contype::text, "
                       "pg_get_constraintdef(oid) FROM pg_constraint "
                       "WHERE connamespace = 'public'::regnamespace "
                       "AND contype IN ('p', 'f', 'u') ORDER BY 1, 2, 3",
        "rows": f"SELECT * FROM ({rows}) r ORDER BY 1",
    }


def write_json(path, obj):
    tmp = Path(str(path) + ".tmp")
    tmp.write_text(json.dumps(obj))
    tmp.replace(path)
