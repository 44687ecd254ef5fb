"""Wide -> star normalization: the reference's entire ETL re-expressed
as 15 declarative builders over ONE cached scan.

Reference shape (SURVEY.md section 3, EP1): 4 re-reads of the wide CSV
-> 11 Airflow TaskGroups, each a row-loop transform + row-at-a-time
INSERT, with JSON/XCom materialization at every edge. Here each table
is a lazy DataFrame over the shared scan; Catalyst prunes the 66-column
input down to each builder's columns, and the only materialization is
the sink write.

Semantics faithfully reproduced (SURVEY.md section 7 hard parts):
  * keep-first dedup is deterministic: pandas ``drop_duplicates`` keeps
    the first row in frame order, so every builder keeps the first row
    per key in file order (``_row_id``).
  * age is year-subtraction, not true age (driver_etl.py:47-49).
  * invalid dates skip the row where the reference skipped
    (driver dob, CompleteETL.py:216-229) and null the value where it
    coerced (race/sprint/fp dates).
  * the 1000-row laps cap (an XCom workaround, CompleteETL.py:796-801)
    is reproduced as a post-dedup ``limit`` for output parity.

Scale notes: one shared scan fans out to 15 sinks - ``wide.cache()`` at
the call site makes the reuse explicit (Spark does not reuse scans
across actions). Every dedup is a window over ``partitionBy(key)`` -
shuffle-on-key, no driver state, no global sort except the laps
builder's file-order surrogate key and cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from formula1_etl_analytics_project_spark.functions.cleaning import (
    age_years,
    int_with_default,
    parse_date,
    parse_fastest_lap_us,
    parse_laptime_ms,
    parse_race_time_seconds,
    parse_time,
    format_seconds,
)
from formula1_etl_analytics_project_spark.operators.dedup import dedup_keep_first


def build_date_dim(wide: DataFrame) -> DataFrame:
    """CompleteETL.py:22 (distinct dates) + :122-125 (parts). The
    reference's desc sort is not kept: a table's row order is not part
    of its contract, and a global sort costs a range-sampling job."""
    d = parse_date("date").alias("date")
    return (
        wide.select(d)
        .filter(F.col("date").isNotNull())
        .distinct()
        .select(
            "date",
            F.dayofmonth("date").alias("day"),
            F.month("date").alias("month"),
            F.year("date").alias("year"),
        )
    )


def build_location_dim(wide: DataFrame) -> DataFrame:
    """CompleteETL.py:25 / location_etl.py:31-38 (rename + key dedup)."""
    deduped = dedup_keep_first(wide, ["circuitId"], ["_row_id"])
    return deduped.select(
        F.col("circuitId").alias("locationId"),
        F.col("name_x").alias("name_loc"),
        "circuitRef",
        "location",
        "country",
        "lat",
        "lng",
        F.col("url_x").alias("url_location"),
    ).filter(F.col("locationId").isNotNull())


def build_status_dim(wide: DataFrame) -> DataFrame:
    """status_etl.py:31."""
    deduped = dedup_keep_first(wide, ["statusId"], ["_row_id"])
    return deduped.select(
        "statusId", F.col("status").alias("statusDescription")
    ).filter(F.col("statusId").isNotNull())


def build_driver(wide: DataFrame) -> DataFrame:
    """driver_etl.py:12-60: dedup driverId, invalid-dob rows skipped
    (F3), age = year subtraction (P4)."""
    deduped = dedup_keep_first(wide, ["driverId"], ["_row_id"])
    dob = parse_date("dob")
    return (
        deduped.filter(F.col("driverId").isNotNull() & dob.isNotNull())
        .select(
            "driverId",
            "driverRef",
            "constructorRef",
            "number",
            "code",
            "forename",
            "surname",
            dob.alias("dob"),
            "nationality",
            F.col("url").alias("url_driver"),
            age_years(dob).alias("age"),
        )
    )


def build_team(wide: DataFrame) -> DataFrame:
    """team_etl.py:31-36."""
    deduped = dedup_keep_first(wide, ["constructorId"], ["_row_id"])
    return deduped.select(
        "constructorId",
        F.col("name").alias("name_team"),
        "constructorRef",
        "nationality_constructors",
        "url_constructors",
    ).filter(F.col("constructorId").isNotNull())


def build_race(wide: DataFrame) -> DataFrame:
    """race_etl.py:14-37: hub table (raceId -> date, round, location)."""
    deduped = dedup_keep_first(wide, ["raceId"], ["_row_id"])
    return deduped.select(
        F.col("raceId").alias("race_id"),
        parse_date("date").alias("date"),
        "round",
        F.col("circuitId").alias("locationId"),
    ).filter(F.col("race_id").isNotNull())


def build_time_dim(wide: DataFrame) -> DataFrame:
    """time_etl.py:30-69: C3 race-gap parsing; F4 both-null row skip."""
    deduped = dedup_keep_first(wide, ["raceId"], ["_row_id"])
    return (
        deduped.filter(
            F.col("raceId").isNotNull()
            & (F.col("time_races").isNotNull() | F.col("time").isNotNull())
        )
        .select(
            "raceId",
            format_seconds(parse_race_time_seconds("time_races"), 6).alias(
                "race_duration"
            ),
            parse_time("time").alias("start_time"),
        )
    )


def build_sprint(wide: DataFrame) -> DataFrame:
    """sprint_etl.py:11-69: F2 null-key filter; C1/C2 parses."""
    filtered = wide.filter(F.col("sprint_date").isNotNull())
    deduped = dedup_keep_first(filtered, ["raceId"], ["_row_id"])
    return deduped.filter(F.col("raceId").isNotNull()).select(
        "raceId",
        parse_date("sprint_date").alias("sprint_date"),
        parse_time(F.regexp_replace("sprint_time", "'", "")).alias("sprint_time"),
    )


_FP_COLS = ["fp1_date", "fp1_time", "fp2_date", "fp2_time", "fp3_date", "fp3_time"]


def build_free_practice(wide: DataFrame) -> DataFrame:
    """fpractice_etl.py:17-50: F1 all-null row drop, sort-then-dedup."""
    filtered = wide.na.drop(how="all", subset=_FP_COLS)
    deduped = dedup_keep_first(filtered, ["raceId"], ["_row_id"])
    return deduped.filter(F.col("raceId").isNotNull()).select(
        "raceId",
        parse_date("fp1_date").alias("fp1_date"),
        parse_time("fp1_time").alias("fp1_time"),
        parse_date("fp2_date").alias("fp2_date"),
        parse_time("fp2_time").alias("fp2_time"),
        parse_date("fp3_date").alias("fp3_date"),
        parse_time("fp3_time").alias("fp3_time"),
    )


def build_qualification(wide: DataFrame) -> DataFrame:
    """quali_etl.py:26-57: D3 composite first-seen dedup; F5 position
    default 0."""
    deduped = dedup_keep_first(wide, ["raceId", "driverId"], ["_row_id"])
    return (
        deduped.filter(F.col("raceId").isNotNull() & F.col("driverId").isNotNull())
        .select(
            F.col("raceId").alias("race_id"),
            F.col("driverId").alias("driver_id"),
            parse_date("quali_date").alias("quali_date"),
            parse_time("quali_time").alias("quali_time"),
            int_with_default("position").alias("position"),
        )
    )


def build_laps(wide: DataFrame, cap: int | None = 1000) -> DataFrame:
    """CompleteETL.py:796-834: D3 dedup on (raceId, driverId, lap), C4
    millisecond lap times, O3 post-dedup 1000-row cap, P5 surrogate key
    (DB sequence -> deterministic row_number over the insert order)."""
    deduped = dedup_keep_first(wide, ["raceId", "driverId", "lap"], ["_row_id"])
    rows = deduped.filter(
        F.col("raceId").isNotNull()
        & F.col("driverId").isNotNull()
        & F.col("lap").isNotNull()
    )
    ordered = rows.orderBy("_row_id")
    if cap is not None:
        ordered = ordered.limit(cap)
    from pyspark.sql import Window

    seq = F.row_number().over(Window.orderBy("_row_id"))
    return ordered.select(
        seq.cast("long").alias("lapsId"),
        "raceId",
        F.col("driverId").alias("driver_id"),
        "laps",
        F.col("lap").cast("int").alias("lap"),
        parse_laptime_ms("time_laptimes").alias("time_laptimes"),
        F.col("position_laptimes").cast("int").alias("position_laptimes"),
        F.col("milliseconds_laptimes").cast("long").alias("milliseconds_laptimes"),
    )


def build_pit_stop(wide: DataFrame) -> DataFrame:
    """pitstop.py:28-55 + CompleteETL.py:421-444: D3 dedup on
    (raceId, driverId, stop), C7 duration float cast, P5 surrogate.

    Pit stops are FACT-grained (grow with races x drivers x stops), so
    the surrogate comes from operators.sequence.distributed_sequence -
    same dense 1..N ids in ``_row_id`` order as a global row_number,
    but with a range shuffle instead of an all-to-one Exchange."""
    from formula1_etl_analytics_project_spark.operators.sequence import (
        distributed_sequence,
    )

    deduped = dedup_keep_first(wide, ["raceId", "driverId", "stop"], ["_row_id"])
    rows = deduped.filter(
        F.col("raceId").isNotNull()
        & F.col("driverId").isNotNull()
        & F.col("stop").isNotNull()
    )
    rows = distributed_sequence(rows, "_row_id", "pitsId")
    return rows.select(
        F.col("pitsId"),
        F.col("raceId").alias("race_id"),
        F.col("driverId").alias("driver_id"),
        F.col("stop").cast("int").alias("stop_number"),
        F.col("lap_pitstops").cast("int").alias("lap_pitstops"),
        parse_time("time_pitstops").alias("time_pitstops"),
        F.col("duration").try_cast("double").alias("duration"),
        F.col("milliseconds_pitstops").cast("long").alias("milliseconds_pitstops"),
    )


def build_results(wide: DataFrame) -> DataFrame:
    """results_etl.py:20-98: dedup resultId (file order - unsorted in
    the reference, so _row_id IS the semantic), C5 microsecond fastest
    laps, F6 permissive casts."""
    deduped = dedup_keep_first(wide, ["resultId"], ["_row_id"])
    return deduped.filter(F.col("resultId").isNotNull()).select(
        "resultId",
        "raceId",
        "driverId",
        "constructorId",
        F.col("positionOrder").alias("position_order"),
        "points",
        "laps",
        F.col("rank").try_cast("int").alias("rank"),
        F.col("fastestLap").try_cast("int").alias("fastestLap"),
        parse_fastest_lap_us("fastestLapTime").alias("fastestLapTime"),
        F.col("fastestLapSpeed").try_cast("double").alias("fastestLapSpeed"),
        "statusId",
        "grid",
    )


def build_driver_standings(wide: DataFrame) -> DataFrame:
    """driver_stand_etl.py:18-43."""
    deduped = dedup_keep_first(wide, ["driverStandingsId"], ["_row_id"])
    return deduped.filter(F.col("driverStandingsId").isNotNull()).select(
        "driverStandingsId",
        "raceId",
        "driverId",
        "points_driverstandings",
        "position_driverstandings",
        "wins",
    )


def build_team_standings(wide: DataFrame) -> DataFrame:
    """team_stand.py:18-43."""
    deduped = dedup_keep_first(wide, ["constructorStandingsId"], ["_row_id"])
    return deduped.filter(F.col("constructorStandingsId").isNotNull()).select(
        "constructorStandingsId",
        "constructorId",
        F.col("raceId").alias("race_id"),
        "points_constructorstandings",
        "position_constructorstandings",
        "wins_constructorstandings",
    )


# The reference's FK-safe load order (dims -> hub -> facts,
# CompleteETL.py:1034-1042): the order of run_etl's report and the CLI's
# output. The writes themselves run concurrently.
BUILDERS = {
    "date_dim": build_date_dim,
    "location_dim": build_location_dim,
    "status_dim": build_status_dim,
    "driver": build_driver,
    "team": build_team,
    "race": build_race,
    "time_dim": build_time_dim,
    "sprint": build_sprint,
    "free_practice": build_free_practice,
    "qualification": build_qualification,
    "laps": build_laps,
    "pit_stop": build_pit_stop,
    "results": build_results,
    "driver_standings": build_driver_standings,
    "team_standings": build_team_standings,
}


def reconstruct_wide(star: dict[str, DataFrame]) -> DataFrame:
    """J1: the 10-way FK join rebuilding the denormalized shape the
    reference's upstream materialized (SURVEY.md section 1.5 key
    insight - our engine goes both directions). Dimensions broadcast;
    the fact side never shuffles."""
    results = star["results"]
    race = star["race"].withColumnRenamed("race_id", "raceId")
    joined = (
        results.join(F.broadcast(race), "raceId", "left")
        .join(F.broadcast(star["driver"]), "driverId", "left")
        .join(F.broadcast(star["team"]), "constructorId", "left")
        .join(F.broadcast(star["status_dim"]), "statusId", "left")
        .join(F.broadcast(star["location_dim"]), "locationId", "left")
        .join(
            F.broadcast(star["date_dim"]),
            "date",
            "left",
        )
    )
    return joined
