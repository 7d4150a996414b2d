"""Seeded football league for the `star_etl` workload.

Writes raw CSVs in the reference pipeline's extract layout and the op
list that loads them one matchweek at a time:

  team_seed_v<k>.csv   manual team seed: Q-prefixed wiki ids, club
                       names with F.C./A.F.C. suffixes, short names;
                       version k carries the first k attribute changes
  stadium_seed.csv     manual stadium seed with one incomplete row and
                       one repeated header row (both dropped by dim_stadium)
  season_stats_<s>.csv player season stats: the full 20 x 25 roster,
                       plus one embedded header row
  w<NNN>/team_match.csv   the season's whole fixture list as scraped
                          after week NNN: two rows per match (one per
                          side), results for played matches, empty
                          stats for unplayed ones
  w<NNN>/player_match.csv one row per player who appeared in week
                          NNN, team names partly in their long variant
                          spelling, plus an embedded duplicate header
                          row; flattened one-row header
  w<NNN>/team_point.csv   standings (overall/home/away) after week NNN

Ops: loading week 1 is the warmup; the timed ops continue from week 2
in cycles of three: a new week, a replay of an already loaded week
(which must leave the warehouse unchanged), a new week. Every fifth new
week (2, 7, 12, ...) changes one team's short name, which the dim_team
upsert must apply. Each op carries the row counts the warehouse must
hold after it. The league is one season of 38 weeks; a run that loads
them all ends early.
"""
import csv
import os
import random

SEASON_WEEKS = 38
FIRST_SEASON = 2024
SQUAD = 25
APPEARANCES = 14  # players per side per match
CYCLE = 3  # timed ops per cycle: new week, replay, new week

# (fbref short name, long variant used by some feeds or None, seed name)
CLUBS = [
    ("Arsenal", None, "Arsenal F.C."),
    ("Aston Villa", None, "Aston Villa F.C."),
    ("Bournemouth", None, "Bournemouth A.F.C."),
    ("Brentford", None, "Brentford F.C."),
    ("Brighton", "Brighton & Hove Albion", "Brighton F.C."),
    ("Burnley", None, "Burnley F.C."),
    ("Chelsea", None, "Chelsea F.C."),
    ("Crystal Palace", None, "Crystal Palace F.C."),
    ("Everton", None, "Everton F.C."),
    ("Fulham", None, "Fulham F.C."),
    ("Leeds United", None, "Leeds United F.C."),
    ("Liverpool", None, "Liverpool F.C."),
    ("Manchester City", None, "Manchester City F.C."),
    ("Manchester Utd", "Manchester United", "Manchester Utd F.C."),
    ("Newcastle Utd", "Newcastle United", "Newcastle Utd F.C."),
    ("Nott'ham Forest", "Nottingham Forest", "Nott'ham Forest F.C."),
    ("Sunderland", "Sunderland A.", "Sunderland A.F.C."),
    ("Tottenham", "Tottenham Hotspur", "Tottenham F.C."),
    ("West Ham", "West Ham United", "West Ham F.C."),
    ("Wolves", "Wolverhampton Wanderers", "Wolves F.C."),
]
FIRST = ["Alex", "Ben", "Carlos", "Dan", "Eli", "Femi", "Gabriel", "Hugo",
         "Ivan", "Jon", "Kai", "Leo", "Marc", "Nico", "Omar", "Pau", "Rui",
         "Sam", "Theo", "Yuri"]
LAST = ["Adams", "Bailey", "Costa", "Diaz", "Evans", "Fofana", "Gomes",
        "Hall", "Ito", "Jones", "Kane", "Lopez", "Mensah", "Novak", "Ortiz",
        "Park", "Quinn", "Reyes", "Silva", "Torres", "Umar", "Vidal",
        "Walker", "Xavi", "Young", "Zola"]
NATIONS = ["ENG", "FRA", "ESP", "BRA", "POR", "NED", "GER", "NGA", "ARG"]
POSITIONS = ["GK", "DF", "DF", "DF", "DF", "MF", "MF", "MF", "FW", "FW", "FW"]

TEAM_MATCH_COLS = [
    "league", "season", "team", "game", "date", "time", "round", "day",
    "venue", "result", "GF", "GA", "opponent", "xG", "xGA", "Poss",
    "Attendance", "Captain", "Formation", "Opp Formation", "Referee",
    "match_report", "Notes"]
STAT_COLS = [
    "min", "Performance_Gls", "Expected_xG", "Expected_xAG",
    "Performance_Ast", "Performance_PK", "Performance_PKatt",
    "Performance_Sh", "Performance_SoT", "Performance_CrdY",
    "Performance_CrdR", "Performance_Touches", "Performance_Tkl",
    "Performance_Int", "Performance_Blocks", "SCA_SCA", "SCA_GCA",
    "Passes_Cmp", "Passes_Att", "Passes_Cmp%", "Passes_PrgP",
    "Carries_Carries", "Carries_PrgC", "Take-Ons_Att", "Take-Ons_Succ"]
INDEX_COLS = ["season", "game", "team", "player", "nation", "pos"]
POINT_COLS = ["season_label", "Match_Category", "Rank", "Team", "MP", "W",
              "D", "L", "gf_ga", "GD", "Pts", "Recent_Form"]



def _write(path, header_rows, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        for h in header_rows:
            w.writerow(h)
        w.writerows(rows)
    return os.path.getsize(path)


def _fixtures(n):
    """Double round robin (circle method): rounds of (home, away) pairs."""
    teams = list(range(n))
    rounds = []
    for r in range(n - 1):
        pairs = [(teams[i], teams[n - 1 - i]) for i in range(n // 2)]
        rounds.append([(a, b) if r % 2 == 0 else (b, a) for a, b in pairs])
        teams = [teams[0]] + [teams[-1]] + teams[1:-1]
    return rounds + [[(b, a) for a, b in rnd] for rnd in rounds]


class League:
    def __init__(self, seed):
        rng = random.Random(seed)
        self.rng = rng
        n = len(CLUBS)
        ids = rng.sample(range(1000, 99999), 2 * n)
        self.team_ids = ids[:n]
        self.stadium_ids = ids[n:]
        self.short = [c[0][:3].upper().replace("'", "X") for c in CLUBS]
        self.founded = [rng.randint(1860, 1920) for _ in CLUBS]
        names = rng.sample([f"{a} {b}" for a in FIRST for b in LAST], n * SQUAD)
        self.squads = [[(names[t * SQUAD + i], rng.choice(NATIONS), POSITIONS[i % len(POSITIONS)],
                         rng.randint(1990, 2006)) for i in range(SQUAD)] for t in range(n)]
        self.rounds = _fixtures(n)
        self.strength = [rng.uniform(0.6, 1.6) for _ in CLUBS]
        self.results = {}  # (season index, round, home, away) -> (gh, ga)

    def season_code(self, s):
        y = FIRST_SEASON + s
        return f"{y % 100:02d}{(y + 1) % 100:02d}"

    def season_label(self, s):
        y = FIRST_SEASON + s
        return f"{y}-{y + 1}"

    def match_date(self, s, r):
        import datetime
        d = datetime.date(FIRST_SEASON + s, 8, 16) + datetime.timedelta(days=7 * r)
        return d.isoformat()

    def result(self, s, r, h, a):
        key = (s, r, h, a)
        if key not in self.results:
            rng = self.rng
            gh = min(6, int(rng.expovariate(1 / (1.4 * self.strength[h]))))
            ga = min(6, int(rng.expovariate(1 / (1.1 * self.strength[a]))))
            self.results[key] = (gh, ga)
        return self.results[key]

    def team_name(self, t, long_ok):
        short, long, _ = CLUBS[t]
        return long if long_ok and long else short


def _team_match(lg, s, played_rounds):
    rows = []
    code = lg.season_code(s)
    for r, rnd in enumerate(lg.rounds):
        date = lg.match_date(s, r)
        for h, a in rnd:
            game = f"{date} {CLUBS[h][0]}-{CLUBS[a][0]}"
            for side, (t, o) in (("Home", (h, a)), ("Away", (a, h))):
                base = ["ENG-Premier League", code, CLUBS[t][0], game, date, "15:00",
                        f"Matchweek {r + 1}", "Sat", side]
                if r < played_rounds:
                    gh, ga = lg.result(s, r, h, a)
                    gf, gag = (gh, ga) if t == h else (ga, gh)
                    res = "W" if gf > gag else "L" if gf < gag else "D"
                    captain = lg.squads[t][5][0]
                    rows.append(base + [res, gf, gag, CLUBS[o][0],
                                        f"{0.4 + gf * 0.7:.1f}", f"{0.4 + gag * 0.7:.1f}",
                                        40 + (gf * 7 + r) % 25, 30000 + t * 1000, captain,
                                        "4-3-3", "4-2-3-1", "Ref", "Match Report", ""])
                else:
                    rows.append(base + ["", "", "", CLUBS[o][0]] + [""] * 10)
    return rows


def _player_match(lg, s, r):
    rng = random.Random(lg.rng.random())
    code = lg.season_code(s)
    date = lg.match_date(s, r)
    rows = [INDEX_COLS + STAT_COLS]  # embedded duplicate header row
    for h, a in lg.rounds[r]:
        game = f"{date} {CLUBS[h][0]}-{CLUBS[a][0]}"
        for t in (h, a):
            team = lg.team_name(t, long_ok=True)
            for name, nation, pos, _ in rng.sample(lg.squads[t], APPEARANCES):
                stats = [rng.choice([90, 90, 90, 75, 60, 30, 15]), rng.randint(0, 2),
                         f"{rng.random():.1f}", f"{rng.random() * 0.5:.1f}", rng.randint(0, 1),
                         0, 0, rng.randint(0, 5), rng.randint(0, 3), rng.randint(0, 1), 0,
                         rng.randint(10, 90), rng.randint(0, 5), rng.randint(0, 3),
                         rng.randint(0, 3), rng.randint(0, 5), rng.randint(0, 2),
                         rng.randint(5, 60), rng.randint(10, 70), f"{rng.uniform(60, 95):.1f}",
                         rng.randint(0, 9), rng.randint(5, 50), rng.randint(0, 8),
                         rng.randint(0, 6), rng.randint(0, 4)]
                rows.append([code, game, team, name, nation, pos] + stats)
    return rows


def _standings(lg, s, played_rounds):
    tables = {cat: {t: [0, 0, 0, 0, 0, 0, ""] for t in range(len(CLUBS))}
              for cat in ("Overall", "Home", "Away")}
    for r in range(played_rounds):
        for h, a in lg.rounds[r]:
            gh, ga = lg.result(s, r, h, a)
            for t, gf, gag, cat in ((h, gh, ga, "Home"), (a, ga, gh, "Away")):
                form = "W" if gf > gag else "L" if gf < gag else "D"
                for c in (cat, "Overall"):
                    row = tables[c][t]
                    row[0] += 1
                    row[1 if form == "W" else 2 if form == "D" else 3] += 1
                    row[4] += gf
                    row[5] += gag
                    row[6] = (row[6] + form)[-5:]
    rows = []
    for cat, tab in tables.items():
        order = sorted(tab, key=lambda t: (-(3 * tab[t][1] + tab[t][2]),
                                           -(tab[t][4] - tab[t][5]), -tab[t][4], t))
        for rank, t in enumerate(order, 1):
            mp, w, d, l, gf, ga, form = tab[t]
            rows.append([lg.season_label(s), cat, f"{rank}.", lg.team_name(t, long_ok=t % 2 == 0),
                         mp, w, d, l, f"{gf}:{ga}", gf - ga, 3 * w + d, form])
    return rows


def generate(out, seed, weeks):
    """Write the league into `out`; return (warmup ops, timed ops, inputs)."""
    os.makedirs(out, exist_ok=True)
    lg = League(seed)
    n = len(CLUBS)
    rng = random.Random(seed * 7919 + 1)
    sizes = {}

    def seed_file(version, shorts):
        p = os.path.join(out, f"team_seed_v{version}.csv")
        sizes[p] = _write(p, [["team_id", "team_name", "founded_year", "stadium_id", "short_name"]],
                          [[f"Q{lg.team_ids[t]}", CLUBS[t][2], lg.founded[t],
                            f"Q{lg.stadium_ids[t]}", shorts[t]] for t in range(n)])
        return p

    stadium = os.path.join(out, "stadium_seed.csv")
    sizes[stadium] = _write(stadium, [["stadium_id", "stadium_name", "capacity"]],
                            [[f"Q{lg.stadium_ids[t]}", f"{CLUBS[t][0]} Stadium",
                              20000 + 1000 * t] for t in range(n)]
                            + [["Q1", "Unfinished Ground", ""],
                               ["stadium_id", "stadium_name", "capacity"]])
    season_stats = os.path.join(out, f"season_stats_{lg.season_code(0)}.csv")
    rows = [["ENG-Premier League", lg.season_code(0), CLUBS[t][0], name, nation, pos,
             f"{FIRST_SEASON - born}-100", born]
            for t in range(n) for name, nation, pos, born in lg.squads[t]]
    rows.insert(len(rows) // 2, ["league", "season", "team", "player", "nation", "pos",
                                 "age", "born"])
    sizes[season_stats] = _write(season_stats, [["league", "season", "team", "player", "nation",
                                                 "pos", "age", "born"]], rows)

    def week_files(w):
        r = w - 1
        d = os.path.join(out, f"w{w:03d}")
        if not os.path.isdir(d):
            os.makedirs(d)
            tm = os.path.join(d, "team_match.csv")
            sizes[tm] = _write(tm, [TEAM_MATCH_COLS], _team_match(lg, 0, r + 1))
            pm = os.path.join(d, "player_match.csv")
            sizes[pm] = _write(pm, [INDEX_COLS + STAT_COLS], _player_match(lg, 0, r))
            tp = os.path.join(d, "team_point.csv")
            sizes[tp] = _write(tp, [POINT_COLS], _standings(lg, 0, r + 1))
        return {"team_match": os.path.join(d, "team_match.csv"),
                "player_match": os.path.join(d, "player_match.csv"),
                "team_point": os.path.join(d, "team_point.csv"),
                "season_stats": season_stats, "stadium_seed": stadium}

    shorts = list(lg.short)
    version = 0
    seeds = {0: seed_file(0, shorts)}
    loaded_weeks = 0

    def counts():
        return {"dim_match": n * (n - 1), "dim_player": n * SQUAD, "dim_season": 6,
                "dim_stadium": n, "dim_team": n,
                "fact_player_match": loaded_weeks * n * APPEARANCES,
                "fact_team_match": loaded_weeks * n,
                "fact_team_point": 3 * n}

    def op(kind, w, cycle):
        nonlocal version, loaded_weeks
        attr = None
        if kind == "attr":
            t = rng.randrange(n)
            version += 1
            shorts[t] = f"{lg.short[t][:2]}{version}"
            seeds[version] = seed_file(version, shorts)
            attr = {"team_id": lg.team_ids[t], "short_name": shorts[t]}
        if kind != "replay":
            loaded_weeks += 1
        files = dict(week_files(w), team_seed=seeds[version])
        return {"kind": kind, "week": w, "cycle": cycle, "files": files,
                "raw_bytes": sum(sizes[p] for p in files.values() if p in sizes),
                "expect": {"counts": counts(), "attr": attr}}

    # the warmup is one weekly load: replays and attribute changes run
    # the same code path on different inputs
    warmup = [op("week", 1, 0)]
    timed = []
    w = 1
    while True:
        j = len(timed)
        if j % CYCLE == 1:
            timed.append(op("replay", rng.randrange(1, w + 1), j // CYCLE))
            continue
        if w >= weeks:
            break
        w += 1
        timed.append(op("attr" if w % 5 == 2 else "week", w, j // CYCLE))
    inputs = {"generator": "perfbench/football.py", "seed": seed, "teams": n,
              "players": n * SQUAD, "weeks": weeks,
              "rows_per_week": {"team_match": 2 * n * (n - 1), "player_match": n * APPEARANCES,
                                "team_point": 3 * n, "season_stats": n * SQUAD},
              "bytes_per_week": {k: os.path.getsize(v) for k, v in week_files(3).items()}}
    return warmup, timed, inputs
