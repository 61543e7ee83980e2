"""Seeded Sparkify-shaped JSON for the ETL workload, derived from the
TPC-H-style parquet corpus, and a DuckDB replay of the five star-schema
tables over the same JSON.

Songs and artists come from part / supplier / nation, with exact duplicate
song rows (about 10%) and a second spelling for some artists (the
lexicographically first one must win). Log rows come from
lineitem ⋈ orders ⋈ customer: about 5/7 are NextSong plays that mostly
match a song, the rest are other pages with no song. The log JSON is split
into year/month directories, one file per day, as in the reference data.
The seed picks the sampled rows, the duplicates, the pages and every
derived attribute; the same seed gives byte-identical files.
"""
import datetime
import glob
import json
import os
import shutil

import duckdb

ARTISTS = 10          # suppliers that become artists; bounds the songs partition count
LOG_SAMPLE = 12       # keep one lineitem row in LOG_SAMPLE as a log event
BASE_TS_MS = 1535760000000  # 2018-09-01T00:00:00Z
SPACING_MS = 2070000  # ~5k events spread over ~4 months; ts stays unique

FIRST = ["Ava", "Ben", "Chloe", "Dev", "Emma", "Finn", "Grace", "Hugo", "Ivy", "Jack",
         "Kai", "Lily", "Mason", "Nora", "Owen", "Pia", "Quinn", "Rosa", "Sam", "Tess"]
LAST = ["Adams", "Brown", "Clark", "Diaz", "Evans", "Fox", "Green", "Hill", "Ito", "Jones",
        "King", "Lopez", "Moore", "Nash", "Ortiz", "Park", "Reed", "Shaw", "Tran", "Young"]
AGENTS = ['"Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36"',
          '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) AppleWebKit/537.36"',
          "Mozilla/5.0 (X11; Linux x86_64; rv:31.0) Gecko/20100101 Firefox/31.0",
          '"Mozilla/5.0 (iPhone; CPU iPhone OS 7_1_2 like Mac OS X) AppleWebKit/537.51.2"']
PAGES = ["Home", "Logout", "Settings", "Help", "About", "Upgrade"]


def connect(corpus):
    """DuckDB on two threads in UTC, with a view per corpus table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for p in sorted(glob.glob(os.path.join(corpus, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _write_lines(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def generate(corpus, out, seed):
    """Writes out/song_data/**.json and out/log_data/YYYY/MM/*.json.
    Returns input sizes: rows, JSON bytes and file counts."""
    if os.path.exists(out):
        shutil.rmtree(out)
    con = connect(corpus)
    s = int(seed)
    songs = con.execute(f"""
        SELECT p.p_partkey,
               'SO' || upper(substr(md5(p.p_partkey::VARCHAR || ':' || {s}), 1, 16)) AS song_id,
               p.p_name AS title,
               'AR' || upper(substr(md5(a.s_suppkey::VARCHAR || ':' || {s}), 1, 16)) AS artist_id,
               CASE WHEN hash(p.p_partkey, {s}, 'alias') % 10 = 0 THEN 'The ' || a.s_name
                    ELSE a.s_name END AS artist_name,
               a.s_name AS canonical_name,
               n.n_name AS artist_location,
               CASE WHEN hash(a.s_suppkey, {s}, 'geo') % 4 = 0 THEN NULL
                    ELSE round(CAST(hash(a.s_suppkey, {s}, 'lat') % 1600000 AS DOUBLE) / 10000 - 80, 4) END AS artist_latitude,
               CASE WHEN hash(a.s_suppkey, {s}, 'geo') % 4 = 0 THEN NULL
                    ELSE round(CAST(hash(a.s_suppkey, {s}, 'lon') % 3600000 AS DOUBLE) / 10000 - 180, 4) END AS artist_longitude,
               CASE WHEN hash(p.p_partkey, {s}, 'year') % 5 = 0 THEN 0
                    ELSE CAST(2001 + hash(p.p_partkey, {s}, 'year') % 4 AS BIGINT) END AS year,
               round(p.p_retailprice / 7 + 60 + CAST(hash(p.p_partkey, {s}, 'dur') % 1000 AS DOUBLE) / 1000, 5) AS duration,
               hash(p.p_partkey, {s}, 'dup') % 10 = 0 AS dup
        FROM part p
        JOIN supplier a ON a.s_suppkey = 1 + hash(p.p_partkey, {s}, 'artist') % {ARTISTS}
        JOIN nation n ON n.n_nationkey = a.s_nationkey
        ORDER BY p.p_partkey""").fetchall()
    by_part = {}
    song_rows = []
    for r in songs:
        (partkey, song_id, title, artist_id, artist_name, canonical, loc, lat, lon,
         year, duration, dup) = r
        row = dict(num_songs=1, song_id=song_id, title=title, artist_id=artist_id,
                   artist_name=artist_name, artist_location=loc, artist_latitude=lat,
                   artist_longitude=lon, year=year, duration=duration)
        song_rows.append(row)
        if dup:
            song_rows.append(dict(row))
        by_part[partkey] = (canonical, title, duration)
    # songs land in song_data/<A>/<B>/<C>/ files of about 20, like the
    # reference's three-letter directory tree
    song_files = 0
    song_bytes = 0
    chunk = 20
    for i in range(0, len(song_rows), chunk):
        part_rows = song_rows[i:i + chunk]
        sid = part_rows[0]["song_id"]
        path = os.path.join(out, "song_data", sid[2], sid[3], sid[4], f"TR{i:06d}.json")
        _write_lines(path, part_rows)
        song_files += 1
        song_bytes += os.path.getsize(path)

    logs = con.execute(f"""
        WITH picked AS (
          SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, o.o_orderkey, c.c_custkey,
                 n.n_name, r.r_name, o.o_orderdate
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          WHERE hash(l.l_orderkey, l.l_linenumber, {s}, 'keep') % {LOG_SAMPLE} = 0)
        SELECT row_number() OVER (ORDER BY o_orderdate, l_orderkey, l_linenumber) - 1 AS k,
               l_partkey, o_orderkey, 1 + c_custkey % 200 AS uid, n_name, r_name,
               hash(l_orderkey, l_linenumber, {s}, 'page') % 7 AS page_roll,
               hash(l_orderkey, l_linenumber, {s}, 'misc') AS roll
        FROM picked ORDER BY k""").fetchall()
    by_day = {}
    n_next = 0
    for k, partkey, orderkey, uid, nation, region, page_roll, roll in logs:
        ts = BASE_TS_MS + k * SPACING_MS + roll % SPACING_MS
        logged_out = roll % 97 == 0
        page = "NextSong" if page_roll < 5 and not logged_out else PAGES[roll % len(PAGES)]
        row = {"artist": None, "auth": "Logged Out" if logged_out else "Logged In",
               "firstName": None if logged_out else FIRST[uid % len(FIRST)],
               "gender": None if logged_out else ("F" if uid % 2 else "M"),
               "itemInSession": int(roll % 40),
               "lastName": None if logged_out else LAST[(uid // len(FIRST)) % len(LAST)],
               "length": None,
               "level": "paid" if (roll // 7) % 3 == 0 else "free",
               "location": None if logged_out else f"{nation.title()}, {region.title()}",
               "method": "PUT" if page == "NextSong" else "GET",
               "page": page, "registration": 1540000000000.0 + uid * 1000,
               "sessionId": int(orderkey), "song": None, "status": 200, "ts": ts,
               "userAgent": None if logged_out else AGENTS[uid % len(AGENTS)],
               "userId": "" if logged_out else str(uid)}
        if page == "NextSong":
            n_next += 1
            artist, title, duration = by_part[partkey]
            if (roll // 11) % 20 < 3:
                duration = round(duration + 0.5, 5)  # a play with no matching song
            row.update(artist=artist, song=title, length=duration)
        day = datetime.datetime.fromtimestamp(ts / 1000, datetime.timezone.utc).strftime("%Y-%m-%d")
        by_day.setdefault(day, []).append(row)
    log_bytes = 0
    for day, rows in sorted(by_day.items()):
        y, m, _ = day.split("-")
        path = os.path.join(out, "log_data", y, m, f"{day}-events.json")
        _write_lines(path, rows)
        log_bytes += os.path.getsize(path)
    con.close()
    return {"song_rows": len(song_rows), "song_files": song_files, "song_json_bytes": song_bytes,
            "log_rows": len(logs), "log_nextsong_rows": n_next, "log_files": len(by_day),
            "log_json_bytes": log_bytes}


def song_glob(out):
    return os.path.join(out, "song_data", "*", "*", "*", "*.json")


def log_glob(out):
    return os.path.join(out, "log_data", "*", "*", "*.json")


# The five tables of SparkifyEtl.run, replayed in DuckDB over the same JSON.
ORACLE = {
    "songs": """
        SELECT song_id, title, artist_id, CASE WHEN year = 0 THEN NULL ELSE year END AS year, duration
        FROM (SELECT *, row_number() OVER (PARTITION BY song_id ORDER BY artist_id, song_id) AS rn
              FROM song_raw) WHERE rn = 1""",
    "artists": """
        SELECT artist_id, artist_name AS name, artist_location AS location,
               artist_latitude AS latitude, artist_longitude AS longitude
        FROM (SELECT *, row_number() OVER (PARTITION BY artist_id ORDER BY artist_id, artist_name) AS rn
              FROM song_raw) WHERE rn = 1""",
    "users": """
        SELECT userId AS user_id, firstName AS first_name, lastName AS last_name, gender, level
        FROM (SELECT *, row_number() OVER (PARTITION BY userId ORDER BY ts DESC) AS rn FROM clean_log)
        WHERE rn = 1""",
    "time": """
        SELECT DISTINCT timestamp AS start_time, hour(timestamp) AS hour, day(timestamp) AS day,
               weekofyear(timestamp) AS week, month(timestamp) AS month, year(timestamp) AS year,
               CAST(isodow(timestamp) AS VARCHAR) AS weekday
        FROM clean_log""",
    "songplays": """
        WITH songs AS (SELECT * FROM oracle_songs), artists AS (SELECT * FROM oracle_artists),
             sa AS (SELECT s.song_id, s.title, s.duration, s.artist_id, a.name
                    FROM songs s JOIN artists a ON s.artist_id = a.artist_id)
        SELECT l.timestamp AS start_time, l.userId AS user_id, l.level, sa.artist_id,
               l.sessionId AS session_id, l.location, l.userAgent AS user_agent,
               year(l.timestamp) AS year, month(l.timestamp) AS month
        FROM clean_log l JOIN sa ON l.artist = sa.name AND l.song = sa.title AND l.length = sa.duration""",
}

CLEAN_LOG = """
    SELECT * REPLACE (TRY_CAST(userId AS BIGINT) AS userId), make_timestamp(ts * 1000) AS timestamp
    FROM log_raw
    WHERE artist IS NOT NULL AND firstName IS NOT NULL AND gender IS NOT NULL
      AND lastName IS NOT NULL AND length IS NOT NULL AND level IS NOT NULL
      AND page IS NOT NULL AND sessionId IS NOT NULL AND song IS NOT NULL
      AND ts IS NOT NULL AND userAgent IS NOT NULL AND userId IS NOT NULL
      AND (artist <> '' OR firstName <> '' OR gender <> '' OR lastName <> ''
           OR level <> '' OR song <> '' OR userAgent <> '' OR userId <> '')
      AND page = 'NextSong'"""


def register_oracle(con, out):
    """Creates oracle_<table> views over the generated JSON in `con`."""
    con.execute(f"CREATE VIEW song_raw AS SELECT * FROM read_json_auto('{song_glob(out)}', "
                "format='newline_delimited')")
    con.execute(f"CREATE VIEW log_raw AS SELECT * FROM read_json_auto('{log_glob(out)}', "
                "format='newline_delimited', sample_size=-1)")
    con.execute(f"CREATE VIEW clean_log AS {CLEAN_LOG}")
    for t in ["songs", "artists", "users", "time", "songplays"]:
        con.execute(f"CREATE VIEW oracle_{t} AS {ORACLE[t]}")
