"""Seeded input generators for the benchmark.

Two families, both written straight to files (no Spark):

* ``make_tables``: the ten star-schema / stream / LLM tables the query
  modules read (``region`` ... ``embeddings``), generated in DuckDB from
  hash-based pseudo-random streams so the same seed gives byte-identical
  parquet files. Column names, types and value domains follow the
  repository's fixture tables (FIXTURES.md section B).
* ``Pipeline``: NBA season games as a headered CSV inside a ``.tgz`` (one
  row per dedup key), plus the daily scrape slates as kafka-log segments.
  Each day carries one new slate and replays part of the previous slate
  with changed ``x``/``y`` (the scraper's overlapping date window); about
  1% of plays are cut off after the clock segment.
"""
import base64
import csv
import datetime as dt
import gzip
import io
import json
import os
import tarfile

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _sql_list(xs):
    return "[" + ",".join("'" + x + "'" for x in xs) + "]"


def make_tables(out_dir, seed, sf):
    """Write the ten tables for scale factor ``sf`` into ``out_dir``."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    n_user = max(50, int(15000 * sf))
    con = duckdb.connect()
    con.execute("SET threads = 4")
    # u(i, salt): uniform in [0, 1), a pure function of (seed, row, salt)
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash({seed}, i, salt) % 1000000007) / 1000000007.0")
    specs = {
        "region": f"""SELECT i::INT AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INT AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            floor(u(i, 1) * 25)::INT AS c_nationkey,
            round(-999.99 + u(i, 2) * 10999.8, 2) AS c_acctbal,
            ['MACHINERY','AUTOMOBILE','FURNITURE','HOUSEHOLD','BUILDING'][1 + (hash({seed}, i, 3) % 5)::INT]
              AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            floor(u(i, 1) * 25)::INT AS s_nationkey,
            round(-999.99 + u(i, 2) * 10999.8, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            ['large','hot','blue','red','new','old','small','green'][1 + (hash({seed}, i, 1) % 8)::INT]
              || ' ' || ['ring','bolt','anvil','gear','rod','widget','nut','pipe'][1 + (hash({seed}, i, 2) % 8)::INT]
              AS p_name,
            'Brand#' || (1 + floor(u(i, 3) * 25))::INT AS p_brand,
            ['SMALL','MEDIUM','LARGE','ECONOMY','STANDARD','PROMO'][1 + (hash({seed}, i, 4) % 6)::INT] AS p_type,
            (1 + floor(u(i, 5) * 50))::INT AS p_size,
            round(900 + (i % 1000) * 0.1, 2) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
            floor(u(i, 1) * {n_cust})::BIGINT AS o_custkey,
            ['F','O','P'][1 + (hash({seed}, i, 2) % 3)::INT] AS o_orderstatus,
            round(1000 + u(i, 3) * 499000, 2) AS o_totalprice,
            (TIMESTAMP '1995-01-01' + to_days(floor(u(i, 4) * 2404)::INT)) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + (hash({seed}, i, 5) % 5)::INT]
              AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT floor(u(i, 1) * {n_ord})::BIGINT AS l_orderkey,
            floor(u(i, 2) * {n_part})::BIGINT AS l_partkey,
            floor(u(i, 3) * {n_supp})::BIGINT AS l_suppkey,
            (1 + floor(u(i, 4) * 7))::INT AS l_linenumber,
            (1 + floor(u(i, 5) * 50))::DOUBLE AS l_quantity,
            round(900 + u(i, 6) * 104100, 2) AS l_extendedprice,
            floor(u(i, 7) * 11) / 100.0 AS l_discount,
            floor(u(i, 8) * 9) / 100.0 AS l_tax,
            ['R','A','N'][1 + (hash({seed}, i, 9) % 3)::INT] AS l_returnflag,
            ['O','F'][1 + (hash({seed}, i, 10) % 2)::INT] AS l_linestatus,
            (TIMESTAMP '1995-01-02' + to_days(floor(u(i, 11) * 2498)::INT)) AS l_shipdate
            FROM range({n_line}) t(i)""",
        # ts rises with event_id (one slot of 30 days / n per event, jittered
        # inside its slot) and is stored as TIMESTAMP(NANOS) like the
        # fixture tables, so the nanos-as-long read path is exercised
        "events": f"""SELECT i::BIGINT AS event_id,
            (TIMESTAMP '2024-01-01' + to_microseconds(floor(
              (i + u(i, 1)) * (2592000000000.0 / {n_ev}))::BIGINT))::TIMESTAMP_NS AS ts,
            floor(u(i, 2) * {n_user})::BIGINT AS user_id,
            ['signup','click','error','view','purchase'][1 + (hash({seed}, i, 3) % 5)::INT] AS event_type,
            round(-ln(1 - u(i, 4)) * 50, 2) AS value,
            '{{"k": ' || floor(u(i, 5) * 100)::INT || '}}' AS props
            FROM range({n_ev}) t(i)""",
    }
    for name, sql in specs.items():
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    # documents: random texts over a small vocabulary; 5% are near-copies
    # of another document with " dup" appended (the near-duplicate share
    # the text-similarity queries look for)
    con.execute(f"""CREATE TABLE base AS
        WITH v AS (SELECT {_sql_list(VOCAB)} AS vocab)
        SELECT i, array_to_string(list_transform(range(10 + floor(u(i, 1) * 91)::INT),
          j -> vocab[1 + (hash({seed}, i * 1000 + j, 2) % 30)::INT]), ' ') AS text
        FROM range({n_doc}) t(i), v""")
    con.execute(f"""COPY (SELECT b.i::BIGINT AS doc_id,
        CASE WHEN u(b.i, 3) < 0.05 THEN o.text || ' dup' ELSE b.text END AS text,
        CASE WHEN u(b.i, 4) < 0.4 THEN 'en'
             ELSE ['es','zh','de','fr'][1 + (hash({seed}, b.i, 5) % 4)::INT] END AS lang,
        'src' || (b.i % 20) AS source,
        length(CASE WHEN u(b.i, 3) < 0.05 THEN o.text || ' dup' ELSE b.text END)::BIGINT
          AS n_chars
        FROM base b JOIN base o ON o.i = floor(u(b.i, 6) * {n_doc})
        ORDER BY doc_id) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")
    # embeddings: 64-d unit vectors (sum of three uniforms per component,
    # centred, then L2-normalised), label 0..9
    con.execute(f"""COPY (WITH raw AS (SELECT i, list_transform(range(64),
          j -> u(i * 64 + j, 1) + u(i * 64 + j, 2) + u(i * 64 + j, 3) - 1.5) AS v
          FROM range({n_emb}) t(i))
        SELECT i::BIGINT AS vec_id,
          list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
            AS embedding,
          floor(u(i, 4) * 10)::INT AS label
        FROM raw ORDER BY vec_id) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)""")
    con.close()


# ---------------------------------------------------------------- pipeline

TEAMS = ["Atlanta", "Boston", "Brooklyn", "Charlotte", "Chicago", "Cleveland",
         "Dallas", "Denver", "Detroit", "Golden State", "Houston", "Indiana",
         "LA Clippers", "LA Lakers", "Memphis", "Miami", "Milwaukee",
         "Minnesota", "New Orleans", "New York", "Oklahoma City", "Orlando",
         "Philadelphia", "Phoenix", "Portland", "Sacramento", "San Antonio",
         "Toronto", "Utah", "Washington"]
CODES = ["ATL", "BOS", "BRK", "CHO", "CHI", "CLE", "DAL", "DEN", "DET", "GSW",
         "HOU", "IND", "LAC", "LAL", "MEM", "MIA", "MIL", "MIN", "NOP", "NYK",
         "OKC", "ORL", "PHI", "PHO", "POR", "SAC", "SAS", "TOR", "UTA", "WAS"]
FIRST = ["LeBron", "Stephen", "Kevin", "Luka", "Nikola", "Jayson", "Devin",
         "Jimmy", "Donovan", "Trae", "Zion", "Ja", "Paul", "Tyrese", "Jalen"]
LAST = ["James", "Curry", "Durant", "Doncic", "Jokic", "Tatum", "Booker",
        "Butler", "Mitchell", "Young", "Williamson", "Morant", "George",
        "Haliburton", "Brunson"]
ORD = ["1st", "2nd", "3rd", "4th"]
# the ingest stage's output schema (FIXTURES.md A3), which is also the
# season CSV's header; the first nine columns are the scraped JSON record
SEASON_COLS = ["game_id", "year", "month", "day", "winner", "loser", "x", "y",
               "play", "time_remaining", "quarter", "shots_by", "outcome",
               "attempt", "distance", "team", "winner_score", "loser_score"]
SEASON_START = dt.date(2024, 10, 22)


def _slates(rng, dates):
    """Plays of every game on ``dates`` (a list of (date, n_games)) as
    season-schema rows: tuples of 18 strings, "" for a NULL field."""
    games = []
    for date, n in dates:
        perm = rng.permutation(30)
        for g in range(n):
            home, away = int(perm[2 * g]), int(perm[2 * g + 1])
            win, lose = (home, away) if rng.random() < 0.55 else (away, home)
            games.append((date, home, win, lose, int(rng.integers(160, 181))))
    quarter, clock = [], []
    for *_, n in games:
        for q in range(4):
            m = n // 4 + (1 if q < n % 4 else 0)
            step = 7200 // (m + 1)  # tenths of a second; keys stay unique
            quarter.extend([q] * m)
            clock.extend(7200 - (k + 1) * step for k in range(m))
    total = len(quarter)
    side = rng.random(total) < 0.5
    made = rng.random(total) < 0.46
    pts = np.where(rng.random(total) < 0.38, 3, 2)
    dist = np.where(pts == 3, rng.integers(23, 33, total), rng.integers(1, 31, total))
    first, last = rng.integers(0, 15, total), rng.integers(0, 15, total)
    xs, ys = rng.integers(0, 501, total), rng.integers(0, 471, total)
    cut = rng.random(total) < 0.01
    now = made & (rng.random(total) < 0.3)
    starts = np.cumsum([0] + [g[4] for g in games])
    gi = np.repeat(np.arange(len(games)), [g[4] for g in games])
    ca = np.cumsum(np.where(made & side, pts, 0))
    cb = np.cumsum(np.where(made & ~side, pts, 0))
    base_a = np.concatenate([[0], ca])[starts[:-1]][gi]
    base_b = np.concatenate([[0], cb])[starts[:-1]][gi]
    sa, sb = (ca - base_a).tolist(), (cb - base_b).tolist()
    heads = [(d.strftime("%Y%m%d"), f"{d.year}", f"{d.month:02d}", f"{d.day:02d}")
             for d, *_ in games]
    rows = []
    for i, (g, q, t, sd, mk, p, ds, f, la, x, y, c, nw) in enumerate(zip(
            gi.tolist(), quarter, clock, side.tolist(), made.tolist(),
            pts.tolist(), dist.tolist(), first.tolist(), last.tolist(),
            xs.tolist(), ys.tolist(), cut.tolist(), now.tolist())):
        date, home, win, lose, _ = games[g]
        ymd, yy, mm, dd = heads[g]
        tr = f"{t // 600}:{(t % 600) // 10:02d}.{t % 10}"
        head = f"{ORD[q]} Q, {tr} remaining"
        row = [ymd + "0" + CODES[home], yy, mm, dd, TEAMS[win], TEAMS[lose],
               str(x), str(y)]
        if c:
            rows.append(tuple(row + [head, tr, str(q + 1)] + [""] * 7))
            continue
        mine, theirs = (sa[i], sb[i]) if sd else (sb[i], sa[i])
        phrase = ("leads" if mine > theirs else
                  "trails" if mine < theirs else "tied")
        team = TEAMS[win if sd else lose]
        shooter = f"{FIRST[f]} {LAST[la]}"
        outcome = "made" if mk else "missed"
        play = (f"{head}<br>{shooter} {outcome} {p}-pointer from {ds} ft"
                f"<br>{team} {'now ' if nw else ''}{phrase} {mine}-{theirs}")
        rows.append(tuple(row + [play, tr, str(q + 1), shooter, outcome,
                                 f"{p}-pointer", f"{ds}ft", team,
                                 str(sa[i]), str(sb[i])]))
    return rows


def _key(row):
    return (row[0], row[9], row[10])


class Pipeline:
    """One season plus ``days`` daily scrape slates, all from ``seed``.

    ``season`` holds ~1,230 games (~200k plays, one row per dedup key).
    ``days[d]`` (1-based) is what the scraper publishes on day ``d``: a
    quarter of the previous slate replayed with new ``x``/``y``, then the
    day's own ``games_per_day`` games.
    """

    def __init__(self, seed, season_dates, days, games_per_day=12):
        rng = np.random.default_rng([seed, 7919])
        dates = [(SEASON_START + dt.timedelta(days=d), int(rng.integers(6, 10)))
                 for d in range(season_dates)]
        self.first_day = SEASON_START + dt.timedelta(days=season_dates)
        self.season = _slates(rng, dates)
        last_date = dates[-1][0].strftime("%Y%m%d")
        prev = [r for r in self.season if r[0].startswith(last_date)]
        self.days = {}
        for d in range(1, days + 1):
            date = self.first_day + dt.timedelta(days=d - 1)
            new = _slates(rng, [(date, games_per_day)])
            pick = rng.random(len(prev)) < 0.25
            dx = rng.integers(1, 401, len(prev)).tolist()
            dy = rng.integers(1, 401, len(prev)).tolist()
            replay = [r[:6] + (str((int(r[6]) + a) % 501), str((int(r[7]) + b) % 471))
                      + r[8:] for r, k, a, b in zip(prev, pick.tolist(), dx, dy) if k]
            self.days[d] = replay + new
            prev = new

    def write_season(self, tgz_path, csv_name):
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(SEASON_COLS)
        w.writerows(self.season)
        data = buf.getvalue().encode("utf-8")
        with open(tgz_path, "wb") as raw:
            with gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=1,
                               mtime=0) as gz:
                with tarfile.open(fileobj=gz, mode="w") as tar:
                    info = tarfile.TarInfo(csv_name)
                    info.size = len(data)
                    tar.addfile(info, io.BytesIO(data))

    def write_segments(self, seg_dir, day_topics_root):
        """Each day's records as one kafka-log segment, named by the base
        offset it takes in the pipeline's topic, under ``seg_dir`` (the
        benchmark moves it into the topic when that day's DAG run starts),
        and again as a one-day topic ``day<NNN>`` under
        ``day_topics_root`` (read by the traced per-layer probes)."""
        os.makedirs(seg_dir, exist_ok=True)
        base = 0
        b64 = base64.b64encode
        for d in sorted(self.days):
            date = self.first_day + dt.timedelta(days=d - 1)
            ts = int(dt.datetime(date.year, date.month, date.day, 23,
                                 tzinfo=dt.timezone.utc).timestamp() * 1000)
            body = "".join(
                f"{b64(r[0].encode()).decode()}\t"
                f"{b64(json.dumps(dict(zip(SEASON_COLS[:9], r[:9]))).encode()).decode()}"
                f"\t{ts}\n" for r in self.days[d])
            with open(os.path.join(seg_dir, f"day{d:03d}.{base:020d}.seg"), "w") as f:
                f.write(body)
            p0 = os.path.join(day_topics_root, f"day{d:03d}", "p0")
            os.makedirs(p0, exist_ok=True)
            with open(os.path.join(p0, f"{0:020d}.seg"), "w") as f:
                f.write(body)
            base += len(self.days[d])

    def expected(self, n_days):
        """Published state after days 1..n_days under the program's merge
        contract: a delta row beats the season row; the delta is every
        day's CSV so far (``ongoing/`` is kept across days); versions of
        one key inside the delta are tie-broken by the non-key columns in
        name order, smallest first. Returns key -> (x, y) and the number of
        keys whose winner is not their newest replay."""
        state = {_key(r): (r[6], r[7]) for r in self.season}
        versions = {}
        for d in range(1, n_days + 1):
            for r in self.days[d]:
                versions.setdefault(_key(r), []).append(r)
        stale = 0
        for k, rs in versions.items():
            # versions of one key differ only in x and y, and every other
            # non-key column sorts before "x" by name
            win = min(rs, key=lambda r: (r[6], r[7]))
            state[k] = (win[6], win[7])
            stale += (win[6], win[7]) != (rs[-1][6], rs[-1][7])
        return state, stale
