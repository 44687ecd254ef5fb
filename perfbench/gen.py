"""Seeded wide-F1 input generator for the benchmark.

Writes the 66-column ``WIDE_F1_SCHEMA`` CSV at race x driver x lap grain:
every lap row repeats its race, circuit, driver, team, result, standings
and pit-stop columns, the way the pre-joined source file does. Edge cases
the ETL must survive are mixed in:

* ``\\N`` sentinels (missing start times, DNF finishing times, quali
  positions, fastest-lap fields, pit-stop durations);
* conflicting duplicates appended in later file order (keep-first dedup
  must keep the original values) plus exact duplicate rows;
* malformed dates and times (one driver's dob, some quali dates, some
  free-practice times, one fastest-lap time per season);
* races whose six free-practice columns are all null.

While writing, the generator counts what the ETL must produce for each
of the 15 star tables, so a load is checked against numbers derived from
the generated data, not from the program under test. The same seed gives
byte-identical output.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from dataclasses import dataclass, field

N = "\\N"

COLUMNS = [
    "raceId", "date", "round", "circuitId", "circuitRef", "name_x",
    "location", "country", "lat", "lng", "url_x", "statusId", "status",
    "driverId", "forename", "surname", "dob", "nationality", "url",
    "number", "constructorRef", "driverRef", "code", "constructorId",
    "name", "nationality_constructors", "url_constructors", "fp1_date",
    "fp1_time", "fp2_date", "fp2_time", "fp3_date", "fp3_time",
    "quali_date", "quali_time", "position", "sprint_date", "sprint_time",
    "stop", "lap_pitstops", "time_pitstops", "duration",
    "milliseconds_pitstops", "driverStandingsId", "points_driverstandings",
    "position_driverstandings", "wins", "constructorStandingsId",
    "points_constructorstandings", "position_constructorstandings",
    "wins_constructorstandings", "time", "time_races", "resultId",
    "positionOrder", "points", "laps", "grid", "rank", "fastestLap",
    "fastestLapTime", "fastestLapSpeed", "lap", "time_laptimes",
    "position_laptimes", "milliseconds_laptimes",
]
_IX = {c: i for i, c in enumerate(COLUMNS)}
_FP = [_IX[c] for c in ("fp1_date", "fp1_time", "fp2_date", "fp2_time", "fp3_date", "fp3_time")]

POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
FINISHED = [(1, "Finished"), (11, "+1 Lap"), (12, "+2 Laps")]
DNF = [(3, "Accident"), (4, "Collision"), (5, "Engine"), (6, "Gearbox"), (20, "Spun off")]
N_CIRCUITS = 24
LAPS_CAP = 1000  # etl.run_etl builds laps with build_laps' default cap


@dataclass(frozen=True)
class Scale:
    seasons: int
    races_per_season: int
    drivers: int
    laps: int


@dataclass
class Expected:
    """What the generator wrote: wide row count, the row count of each
    star table a load must produce, and the lap-grain fact state the
    merge workload updates."""

    wide_rows: int = 0
    tables: dict[str, int] = field(default_factory=dict)
    # (raceId, driverId, lap) -> [lapsId, laps, time_laptimes, position, ms]
    laps: dict[tuple[int, int, int], list] = field(default_factory=dict)
    race_year: dict[int, int] = field(default_factory=dict)


def _lap_str(ms: int) -> str:
    return f"{ms // 60000}:{ms % 60000 // 1000:02d}.{ms % 1000:03d}"


def _laptime_ms_fmt(ms: int) -> str:
    """What ``parse_laptime_ms`` renders for ``_lap_str(ms)``."""
    s = ms // 1000
    return f"{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}.{ms % 1000:03d}"


class _Counter:
    """Keep-first bookkeeping mirroring each builder's dedup and filters."""

    def __init__(self) -> None:
        self.dates: set[str] = set()
        self.circuits: set[str] = set()
        self.statuses: set[str] = set()
        self.driver_ok: dict[str, bool] = {}
        self.teams: set[str] = set()
        self.races: set[str] = set()
        self.time_ok: dict[str, bool] = {}
        self.sprint: set[str] = set()
        self.fp: set[str] = set()
        self.quali: set[tuple[str, str]] = set()
        self.lap_keys: set[tuple[str, str, str]] = set()
        self.pits: set[tuple[str, str, str]] = set()
        self.results: set[str] = set()
        self.dstand: set[str] = set()
        self.cstand: set[str] = set()

    def add(self, r: list[str]) -> None:
        g = lambda c: r[_IX[c]]  # noqa: E731
        race, drv = g("raceId"), g("driverId")
        self.dates.add(g("date"))
        self.circuits.add(g("circuitId"))
        self.statuses.add(g("statusId"))
        self.driver_ok.setdefault(drv, g("dob")[:2] in ("19", "20"))
        self.teams.add(g("constructorId"))
        self.races.add(race)
        self.time_ok.setdefault(race, g("time") != N or g("time_races") != N)
        if g("sprint_date") != N:
            self.sprint.add(race)
        if any(r[i] != N for i in _FP):
            self.fp.add(race)
        self.quali.add((race, drv))
        self.lap_keys.add((race, drv, g("lap")))
        if g("stop") != N:
            self.pits.add((race, drv, g("stop")))
        self.results.add(g("resultId"))
        self.dstand.add(g("driverStandingsId"))
        self.cstand.add(g("constructorStandingsId"))

    def tables(self) -> dict[str, int]:
        return {
            "date_dim": len(self.dates),
            "location_dim": len(self.circuits),
            "status_dim": len(self.statuses),
            "driver": sum(self.driver_ok.values()),
            "team": len(self.teams),
            "race": len(self.races),
            "time_dim": sum(self.time_ok.values()),
            "sprint": len(self.sprint),
            "free_practice": len(self.fp),
            "qualification": len(self.quali),
            "laps": min(len(self.lap_keys), LAPS_CAP),
            "pit_stop": len(self.pits),
            "results": len(self.results),
            "driver_standings": len(self.dstand),
            "team_standings": len(self.cstand),
        }


def _people(rng: random.Random, n_drivers: int):
    nats = ["British", "German", "Spanish", "Finnish", "Dutch", "French", "Italian", "Mexican"]
    drivers = []
    bad_dob = rng.randrange(n_drivers)
    for d in range(n_drivers):
        dob = f"19{rng.randint(70, 99)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        drivers.append({
            "driverId": str(d + 1),
            "forename": f"Fore{d + 1}",
            "surname": "O'Neil" if d == 1 else f"Sur{d + 1}",
            "dob": "unknown-dob" if d == bad_dob else dob,
            "nationality": rng.choice(nats),
            "url": f"http://en.wikipedia.org/wiki/Driver_{d + 1}",
            "number": str(d + 2) if d % 5 else N,
            "driverRef": f"driver_{d + 1}",
            "code": f"D{d + 1:02d}",
        })
    n_teams = max(1, n_drivers // 2)
    teams = [{
        "constructorId": str(t + 1),
        "name": f"Team {t + 1}",
        "constructorRef": f"team_{t + 1}",
        "nationality_constructors": rng.choice(nats),
        "url_constructors": f"http://en.wikipedia.org/wiki/Team_{t + 1}",
    } for t in range(n_teams)]
    circuits = [{
        "circuitId": str(c + 1),
        "circuitRef": f"circuit_{c + 1}",
        "name_x": f"Grand Prix {c + 1}",
        "location": f"City{c + 1}",
        "country": f"Country{c % 17 + 1}",
        "lat": f"{rng.uniform(-40, 60):.4f}",
        "lng": f"{rng.uniform(-120, 150):.4f}",
        "url_x": f"http://en.wikipedia.org/wiki/Circuit_{c + 1}",
    } for c in range(N_CIRCUITS)]
    return drivers, teams, circuits


def generate(path: str, seed: int, scale: Scale) -> Expected:
    """Write the wide CSV for ``seed`` at ``scale``; return what a
    correct load of it contains."""
    rng = random.Random(seed)
    drivers, teams, circuits = _people(rng, scale.drivers)
    counter = _Counter()
    exp = Expected()
    rows_written: list[list[str]] = []  # sample pool for appended duplicates
    race_id = result_id = dstand_id = cstand_id = 0
    lap_seq = 0
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(COLUMNS)

        def emit(row: list[str]) -> None:
            w.writerow(row)
            counter.add(row)
            exp.wide_rows += 1
            if rng.random() < 0.01:
                rows_written.append(row)

        for s in range(scale.seasons):
            year = 2001 + s
            season_circuits = rng.sample(circuits, min(scale.races_per_season, N_CIRCUITS))
            lineup = list(range(scale.drivers))
            rng.shuffle(lineup)
            team_of = {d: teams[i // 2 % len(teams)] for i, d in enumerate(lineup)}
            d_points = [0.0] * scale.drivers
            d_wins = [0] * scale.drivers
            t_points = [0.0] * len(teams)
            t_wins = [0] * len(teams)
            gap_days = max(1, 280 // scale.races_per_season)
            for r in range(scale.races_per_season):
                race_id += 1
                exp.race_year[race_id] = year
                day = dt.date(year, 3, 1) + dt.timedelta(days=r * gap_days + rng.randint(0, gap_days - 1))
                circ = season_circuits[r % len(season_circuits)]
                sprint = s >= 2 and r % 5 == 2
                fp_null = r % 7 == 4
                d2, d1 = day - dt.timedelta(days=2), day - dt.timedelta(days=1)
                race_cols = {
                    "raceId": str(race_id), "date": day.isoformat(), "round": str(r + 1), **circ,
                    "time": N if s == 0 and r % 3 == 0 else f"{rng.randint(12, 15)}:{rng.choice(['00', '10', '05'])}:00",
                    "fp1_date": N if fp_null else d2.isoformat(),
                    "fp1_time": N if fp_null else "11:30:00",
                    "fp2_date": N if fp_null or sprint else d2.isoformat(),
                    "fp2_time": N if fp_null or sprint else ("25:61:00" if r % 4 == 1 else "15:00:00"),
                    "fp3_date": N if fp_null or sprint else d1.isoformat(),
                    "fp3_time": N if fp_null or sprint else "12:30:00",
                    "sprint_date": d1.isoformat() if sprint else N,
                    "sprint_time": ("'16:30:00'" if r % 2 else "16:30:00") if sprint else N,
                }
                order = list(range(scale.drivers))
                rng.shuffle(order)  # finishing order
                grid = list(range(1, scale.drivers + 1))
                rng.shuffle(grid)
                finish_pos = {d: i + 1 for i, d in enumerate(order)}
                dnf = {d for d in order[scale.drivers * 3 // 4:] if rng.random() < 0.4}
                fastest = sorted(
                    (d for d in range(scale.drivers) if d not in dnf),
                    key=lambda d: rng.random(),
                )
                fl_rank = {d: i + 1 for i, d in enumerate(fastest)}
                base_ms = rng.randint(78000, 98000)
                race_pts = {}
                for d in range(scale.drivers):
                    pos = finish_pos[d]
                    race_pts[d] = float(POINTS[pos - 1]) if pos <= len(POINTS) and d not in dnf else 0.0
                    if d in fl_rank and fl_rank[d] == 1 and pos <= 10:
                        race_pts[d] += 0.5 if s % 2 else 1.0
                    d_points[d] += race_pts[d]
                    if pos == 1:
                        d_wins[d] += 1
                for d in range(scale.drivers):
                    ti = int(team_of[d]["constructorId"]) - 1
                    t_points[ti] += race_pts[d]
                    if finish_pos[d] == 1:
                        t_wins[ti] += 1
                d_rank = {d: i + 1 for i, d in enumerate(sorted(range(scale.drivers), key=lambda d: (-d_points[d], d)))}
                t_rank = {t: i + 1 for i, t in enumerate(sorted(range(len(teams)), key=lambda t: (-t_points[t], t)))}
                for d in range(scale.drivers):  # file order: driverId within race
                    drv, team = drivers[d], team_of[d]
                    ti = int(team["constructorId"]) - 1
                    result_id += 1
                    dstand_id += 1
                    pos = finish_pos[d]
                    laps_done = rng.randint(scale.laps // 3, scale.laps - 1) if d in dnf else scale.laps
                    status = rng.choice(DNF) if d in dnf else FINISHED[min(2, max(0, pos - scale.drivers + 3))]
                    if pos == 1:
                        finish = f"1:{rng.randint(25, 45)}:{rng.randint(0, 59):02d}.{rng.randint(0, 999):03d}"
                    elif d in dnf or status[0] != 1:
                        finish = N
                    else:
                        finish = f"+{pos * 3.5 + rng.randint(0, 999) / 1000:.3f}"
                    fl_ms = base_ms - rng.randint(500, 2500)
                    n_stops = rng.randint(1, 3) if laps_done > 4 else 0
                    stop_laps = sorted(rng.sample(range(2, laps_done), min(n_stops, laps_done - 2)))
                    stop_of = {lap: i + 1 for i, lap in enumerate(stop_laps)}
                    quali_bad = rng.random() < 0.03
                    per_driver = {
                        **drv, **team, **race_cols,
                        "statusId": str(status[0]), "status": status[1],
                        "quali_date": "2099-13-45" if quali_bad else (day - dt.timedelta(days=1)).isoformat(),
                        "quali_time": "14:00:00",
                        "position": N if rng.random() < 0.05 else str(grid[d]),
                        "driverStandingsId": str(dstand_id),
                        "points_driverstandings": f"{d_points[d]:.1f}",
                        "position_driverstandings": str(d_rank[d]),
                        "wins": str(d_wins[d]),
                        "constructorStandingsId": str(cstand_id + ti + 1),
                        "points_constructorstandings": f"{t_points[ti]:.1f}",
                        "position_constructorstandings": str(t_rank[ti]),
                        "wins_constructorstandings": str(t_wins[ti]),
                        "time_races": finish,
                        "resultId": str(result_id),
                        "positionOrder": str(pos),
                        "points": f"{race_pts[d]:.1f}",
                        "laps": str(laps_done),
                        "grid": str(grid[d]),
                        "rank": str(fl_rank[d]) if d in fl_rank else N,
                        "fastestLap": str(rng.randint(2, laps_done)) if d in fl_rank else N,
                        "fastestLapTime": ("garbage" if r == 0 and d == 0 else _lap_str(fl_ms)) if d in fl_rank else N,
                        "fastestLapSpeed": f"{rng.uniform(190, 240):.3f}" if d in fl_rank else N,
                    }
                    base = [per_driver.get(c, N) for c in COLUMNS]
                    for lap in range(1, laps_done + 1):
                        row = list(base)
                        ms = base_ms + rng.randint(0, 4000) + (20000 if lap in stop_of else 0)
                        row[_IX["lap"]] = str(lap)
                        row[_IX["time_laptimes"]] = _lap_str(ms)
                        row[_IX["position_laptimes"]] = str(rng.randint(1, scale.drivers))
                        row[_IX["milliseconds_laptimes"]] = str(ms)
                        if lap in stop_of:
                            dur = rng.randint(80, 140) * 0.25
                            row[_IX["stop"]] = str(stop_of[lap])
                            row[_IX["lap_pitstops"]] = str(lap)
                            row[_IX["time_pitstops"]] = f"{rng.randint(13, 16)}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
                            row[_IX["duration"]] = N if rng.random() < 0.05 else f"{dur:.2f}"
                            row[_IX["milliseconds_pitstops"]] = str(int(dur * 1000))
                        if rng.random() < 0.002:  # stray row with no free-practice data
                            for i in _FP:
                                row[i] = N
                        key = (race_id, d + 1, lap)
                        lap_seq += 1
                        exp.laps[key] = [lap_seq, laps_done, _laptime_ms_fmt(ms), int(row[_IX["position_laptimes"]]), ms]
                        emit(row)
                cstand_id += len(teams)

        # Later-file-order duplicates: exact copies, and copies whose
        # non-key values conflict (keep-first must ignore them).
        for row in list(rows_written):
            dup = list(row)
            if rng.random() < 0.5:
                dup[_IX["surname"]] = "ShouldLose"
                dup[_IX["name_x"]] = "Renamed GP"
                dup[_IX["points"]] = "99.0"
                dup[_IX["milliseconds_laptimes"]] = "1"
                if dup[_IX["duration"]] != N:
                    dup[_IX["duration"]] = "99.00"
            w.writerow(dup)
            counter.add(dup)
            exp.wide_rows += 1
    exp.tables = counter.tables()
    return exp


@dataclass
class MergeBatch:
    rows: list[tuple]  # laps-fact rows, FACT_COLUMNS order
    years: list[int]
    inserted: int
    ms_delta: int


FACT_COLUMNS = [
    "lapsId", "raceId", "driver_id", "laps", "lap", "time_laptimes",
    "position_laptimes", "milliseconds_laptimes", "year",
]


class MergeStream:
    """Seeded sequence of upsert batches against the lap fact: each batch
    touches 1-3 seasons, part updates of existing lap keys and part
    inserts of new laps. Tracks the fact's expected row count and
    ``milliseconds_laptimes`` sum as batches are applied."""

    def __init__(self, exp: Expected, seed: int, batch_rows: int) -> None:
        self.rng = random.Random(seed * 7919 + 1)
        self.batch_rows = batch_rows
        self.state = {k: list(v) for k, v in exp.laps.items()}
        self.year_of = exp.race_year
        self.by_year: dict[int, list[tuple[int, int, int]]] = {}
        for k in self.state:
            self.by_year.setdefault(self.year_of[k[0]], []).append(k)
        self.max_lap: dict[tuple[int, int], int] = {}
        for race, drv, lap in self.state:
            if lap > self.max_lap.get((race, drv), 0):
                self.max_lap[(race, drv)] = lap
        self.next_id = max(v[0] for v in self.state.values()) + 1
        self.rows = len(self.state)
        self.ms_sum = sum(v[4] for v in self.state.values())

    def next_batch(self) -> MergeBatch:
        rng = self.rng
        years = sorted(rng.sample(sorted(self.by_year), rng.randint(1, min(3, len(self.by_year)))))
        n_ins = self.batch_rows * 3 // 10
        n_upd = self.batch_rows - n_ins
        pool = [k for y in years for k in self.by_year[y]]
        upd = rng.sample(pool, min(n_upd, len(pool)))
        rows, delta = [], 0
        for k in upd:
            v = self.state[k]
            ms = v[4] + rng.randint(-900, 900)
            delta += ms - v[4]
            v[2], v[4] = _laptime_ms_fmt(ms), ms
            rows.append((v[0], k[0], k[1], v[1], k[2], v[2], v[3], ms, self.year_of[k[0]]))
        pairs = sorted({(k[0], k[1]) for k in pool})
        for _ in range(n_ins):
            race, drv = rng.choice(pairs)
            lap = self.max_lap[(race, drv)] + 1
            self.max_lap[(race, drv)] = lap
            ms = rng.randint(78000, 102000)
            key = (race, drv, lap)
            v = [self.next_id, lap, _laptime_ms_fmt(ms), rng.randint(1, 20), ms]
            self.next_id += 1
            self.state[key] = v
            self.by_year[self.year_of[race]].append(key)
            delta += ms
            rows.append((v[0], race, drv, v[1], lap, v[2], v[3], ms, self.year_of[race]))
        self.rows += n_ins
        self.ms_sum += delta
        return MergeBatch(rows, years, n_ins, delta)
