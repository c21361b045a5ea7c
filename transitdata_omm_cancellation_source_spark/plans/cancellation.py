"""E1 — the flagship trip-cancellation pipeline (SURVEY.md §3).

Reference lifecycle (``Main.java:53-66`` →
``OmmConnector.queryAndProcessResults`` →
``OmmCancellationHandler.handleAndSend``):

  scan 11 tables → join J1-J10 → filter F1-F7 → project P1-P8 →
  decode P9-P13 + malformed-row drop S5 → dedup A2 → diff A3 → sink S6

The reference splits this between SQL Server (relational half) and a
row-at-a-time Java loop (dataflow half).  Here the *whole* lifecycle is
one declarative DataFrame program: Catalyst fuses decode/validation
into the join stages (whole-stage codegen), prunes every scan to the
referenced columns, pushes literal predicates into parquet, and
broadcasts the small dimension tables — the plan a 100 TB run needs.

Query templates: cancellations_current_future.sql (NOW mode, 2 params)
and cancellations_past_current_future.sql (PAST mode, 5 params,
incremental change capture of recently modified past cancellations).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked, register_artifact_frame_cache, release_frame
from ..functions import enums
from ..functions.scalars import (
    DEFAULT_TIMEZONE,
    char16_id,
    direction_from_gid,
    local_str_to_utc_epoch_ms,
    operating_day,
    start_time_over24h,
    status_from_ad,
)
from ..operators.dedup import priority_argmax
from .omm_model import OMM_VIEW_NAMES, omm_ctes, omm_sources, register_omm_views


@dataclass(frozen=True)
class QueryParams:
    """S2 — the reference's bind parameters (OmmConnector.java:53-81).

    All three are *local wall-clock strings* in ``omm.timezone``; the
    reference binds strings precisely to avoid JDBC tz coercion
    (OmmConnector.java:62).  ``since`` (= now - poll interval) only
    applies in PAST mode (cancellations_past_current_future.sql:37).
    Defaults sit mid-range of the testdata's January 2024 event span so
    every WHERE arm is exercised.
    """

    now: str = "2024-01-15 12:00:00"
    today: str = "2024-01-15"
    since: str = "2024-01-10 00:00:00"
    mode: str = "NOW"  # CancellationSourceType: NOW | PAST (Main.java:30-44)


#: The ptDOI4 (timetable) relations: the journey side of the join.
JOURNEY_VIEWS = (
    "omm_dated_vehicle_journey",
    "omm_vehicle_journey",
    "omm_vehicle_journey_template",
    "omm_key_variant_value",
    "omm_key_variant_type",
    "omm_key_type",
    "omm_object_type",
)


def journey_plan(spark: SparkSession) -> DataFrame:
    """The ptDOI4 half of the join: J5-J10, F4-F7 and P2-P8.

    One row per valid (dated journey, route key value) pair, carrying
    the J4 join key ``dvj_key`` and the ``operating_day_date`` that F2/F3
    read, plus the projected P2-P8 columns.  Every join is a shuffle hash
    join: the side is built once and stays persisted, and its cached
    plan would pin each broadcast hash relation on the driver for as
    long as it stays cached (at least 1 MB apiece, even for the
    five-row object types).
    """
    def dim(view: str, alias: str) -> DataFrame:
        return spark.table(view).hint("shuffle_hash").alias(alias)

    dvj = spark.table("omm_dated_vehicle_journey").alias("DVJ")
    vj = dim("omm_vehicle_journey", "VJ")
    vjt = dim("omm_vehicle_journey_template", "VJT")
    kvv = dim("omm_key_variant_value", "KVV")
    kvt = dim("omm_key_variant_type", "KVT")
    kt = dim("omm_key_type", "KT")
    ot = dim("omm_object_type", "OT")
    joined = (
        dvj
        # J5-J7 (inner fact chain)
        .join(vj, F.col("VJ.Id") == F.col("DVJ.IsBasedOnVehicleJourneyId"), "inner")
        .join(vjt, F.col("VJT.Id") == F.col("DVJ.IsBasedOnVehicleJourneyTemplateId"), "inner")
        .join(kvv, F.col("KVV.IsForObjectId") == F.col("VJ.Id"), "inner")
        # J8-J10 (dimension chain)
        .join(kvt, F.col("KVT.Id") == F.col("KVV.IsOfKeyVariantTypeId"), "inner")
        .join(kt, F.col("KT.Id") == F.col("KVT.IsForKeyTypeId"), "inner")
        .join(ot, F.col("OT.Number") == F.col("KT.ExtendsObjectTypeNumber"), "inner")
    )
    filtered = joined.filter(
        F.col("KT.Name").isin("JoreIdentity", "JoreRouteIdentity", "RouteName")  # F4
        & (F.col("OT.Name") == "VehicleJourney")  # F5
        & F.col("VJT.IsWorkedOnDirectionOfLineGid").isNotNull()  # F6
        & F.col("DVJ.IsReplacedById").isNull()  # F7
    )
    return filtered.select(
        F.col("DVJ.Id").alias("dvj_key"),
        F.col("DVJ.OperatingDayDate").alias("operating_day_date"),
        char16_id(F.col("DVJ.Id")).alias("DVJ_ID"),  # P2
        F.col("KVV.StringValue").alias("ROUTE_NAME"),
        direction_from_gid(F.col("VJT.IsWorkedOnDirectionOfLineGid")).alias("DIRECTION"),  # P3
        operating_day(F.col("DVJ.OperatingDayDate")).alias("OPERATING_DAY"),  # P4
        start_time_over24h(F.col("DVJ.PlannedStartOffsetDateTime")).alias("START_TIME"),  # P5-P8
    )


#: appId -> (journey source key, persisted journey frame).  Released by
#: ``caching.release_tracked`` like every persisted artifact frame.
_JOURNEY_CACHE: dict[str, tuple] = register_artifact_frame_cache({})


def journey_side(spark: SparkSession) -> DataFrame:
    """The persisted journey side for the current ptDOI4 sources.

    Built once per set of journey-table source keys (``omm_sources``) and
    persisted on disk, so poll cycles whose timetable did not change pay
    neither its seven scans nor its six joins, and the cached rows stay
    off the JVM heap.  A newer source key unpersists the superseded frame
    before the new one is built: Spark's cache matches plans by file
    path, so a stale frame over a rewritten file would otherwise be
    served for the new plan.
    """
    app_id = spark.sparkContext.applicationId
    key = omm_sources(spark, JOURNEY_VIEWS)
    entry = _JOURNEY_CACHE.get(app_id)
    if entry is None or entry[0] != key:
        if entry is not None:
            release_frame(entry[1])
        journey = persist_tracked(journey_plan(spark), StorageLevel.DISK_ONLY)
        entry = _JOURNEY_CACHE[app_id] = (key, journey)
    return entry[1]


def raw_cancellations(spark: SparkSession, params: QueryParams) -> DataFrame:
    """The 17-column relational half (cancellations_current_future.sql:1-39).

    Join chain J1-J10 and filters F1-F7 as written, split at the
    reference's own database boundary:

    - the journey side (ptDOI4: DVJ, VJ, VJT, KVV, KVT, KT, OT) is J5-J10
      with F4-F7 and P2-P8, served persisted by ``journey_side``;
    - the deviation side (OMM: DC, AD, BLM, B) is planned per call:
      DC ⟕ AD ⟕ BLM ⟕ B, inner-joined to the journey side on J4, with
      F1-F3 applied after the join.

    The split is exact.  J5-J10 are inner joins whose predicates name
    only journey relations, so ``((X ⋈ DVJ) ⋈ VJ) ... ⋈ OT`` equals
    ``X ⋈ (DVJ ⋈ VJ ... ⋈ OT)`` row for row, and F4-F7 name only journey
    columns, so they filter the journey side before J4.  Both semantic
    traps SURVEY §7 flags are preserved, not "fixed":

    - J4: the INNER join on ``DVJ.Id = AD.departure_id`` consumes J1's
      LEFT join, silently dropping AD-less deviation cases.
    - F1: ``BLM.language_code = 'fi'`` lives in WHERE, so it also
      cancels J2's outerness for bulletin-less cases.
    """
    dc = spark.table("omm_deviation_cases").alias("DC")
    ad = spark.table("omm_affected_departures").alias("AD")
    blm = spark.table("omm_bulletin_localized_messages").alias("BLM")
    b = spark.table("omm_bulletins").alias("B")
    journey = journey_side(spark).alias("J")

    now = F.lit(params.now).cast("timestamp_ntz")
    today = F.lit(params.today).cast("timestamp_ntz")
    since = F.lit(params.since).cast("timestamp_ntz")

    joined = (
        dc
        # J1 (left: a case may have no affected departures … yet J4 is inner)
        .join(ad, F.col("DC.deviation_case_id") == F.col("AD.deviation_case_id"), "left")
        # J2/J3 (left: bulletin may be missing; F1 below re-tightens BLM)
        .join(blm, F.col("DC.bulletin_id") == F.col("BLM.bulletins_id"), "left")
        .join(b, F.col("DC.bulletin_id") == F.col("B.bulletins_id"), "left")
        # J4 (inner, onto the J5-J10 journey side)
        .join(journey, F.col("J.dvj_key") == F.col("AD.departure_id"), "inner")
    )

    # F2 — temporal validity disjunction with NULL logic (SQL L34-35)
    current_or_future = (F.col("DC.valid_to") > now) | (
        F.col("DC.valid_to").isNull()
        & (F.col("AD.status") == "deleted")
        & (F.col("J.operating_day_date") >= today)
    )
    if params.mode == "PAST":
        # F3 — incremental capture of recently modified past rows
        # (cancellations_past_current_future.sql:34-37)
        past_modified = (
            (F.col("DC.valid_to") <= now)
            | (
                F.col("DC.valid_to").isNull()
                & (F.col("AD.status") == "deleted")
                & (F.col("J.operating_day_date") < today)
            )
        ) & (F.col("DC.last_modified") >= since)
        temporal = current_or_future | past_modified
    else:
        temporal = current_or_future

    filtered = joined.filter(
        (F.col("BLM.language_code") == "fi")  # F1
        & temporal  # F2/F3
    )

    # P1-P8 — projection with the reference's aliases (SQL L1-19)
    return filtered.select(
        F.col("DC.deviation_case_id").alias("deviation_case_id"),
        F.col("DC.valid_from").alias("VALID_FROM"),
        F.col("DC.valid_to").alias("VALID_TO"),
        F.col("DC.type").alias("DEVIATION_CASES_TYPE"),
        F.col("DC.last_modified").alias("DEVIATION_CASES_LAST_MODIFIED"),
        F.col("AD.last_modified").alias("AFFECTED_DEPARTURES_LAST_MODIFIED"),
        F.col("AD.status").alias("AFFECTED_DEPARTURES_STATUS"),
        F.col("AD.type").alias("AFFECTED_DEPARTURES_TYPE"),
        F.col("BLM.title").alias("TITLE"),
        F.col("BLM.description").alias("DESCRIPTION"),
        F.col("B.category").alias("CATEGORY"),
        F.col("B.sub_category").alias("SUB_CATEGORY"),
        F.col("J.DVJ_ID"),
        F.col("J.ROUTE_NAME"),
        F.col("J.DIRECTION"),
        F.col("J.OPERATING_DAY"),
        F.col("J.START_TIME"),
    )
    # O1 (ORDER BY DC.last_modified) feeds A2's encounter order; a global
    # sort here would only pay a shuffle to produce an ordering the dedup
    # window re-derives locally, so the order column travels instead.


def decode_cancellations(df: DataFrame, timezone: str = DEFAULT_TIMEZONE) -> DataFrame:
    """S4/S5 + P9-P13 — ResultSet decode as vectorized expressions.

    Mirrors ``parseData`` (OmmCancellationHandler.java:106-166): derive
    Status (P9), parse AFFECTED_DEPARTURES_LAST_MODIFIED as ``timezone``
    wall-clock → UTC epoch ms (P11; null ⇒ row dropped, L155-157), and
    drop rows whose enum strings fail validation (S5, L161-163).  The
    Java loop throws/catches per row; here malformed rows are filtered
    out by vectorized ``isin`` predicates — same survivors, no Python.
    """
    decoded = df.select(
        F.col("deviation_case_id"),
        F.col("ROUTE_NAME").alias("route_id"),
        F.col("DIRECTION").alias("direction_id"),
        F.col("OPERATING_DAY").alias("start_date"),
        F.col("START_TIME").alias("start_time"),
        status_from_ad("AFFECTED_DEPARTURES_STATUS").alias("status"),  # P9
        F.lit(1).alias("schema_version"),  # P13
        char16_id(F.col("DVJ_ID").cast("long")).alias("dvj_id"),  # Long.toString(getLong(..)) L137
        F.col("DEVIATION_CASES_TYPE").alias("deviation_cases_type"),
        F.col("AFFECTED_DEPARTURES_TYPE").alias("affected_departures_type"),
        F.col("TITLE").alias("title"),
        F.col("DESCRIPTION").alias("description"),
        F.col("CATEGORY").alias("category"),
        F.col("SUB_CATEGORY").alias("sub_category"),
        local_str_to_utc_epoch_ms("AFFECTED_DEPARTURES_LAST_MODIFIED", timezone).alias(
            "ts_epoch_ms"
        ),  # P11
        F.col("DEVIATION_CASES_LAST_MODIFIED").alias("dc_last_modified"),  # A2 order
        F.col("AFFECTED_DEPARTURES_STATUS").alias("ad_status"),
    )
    return decoded.filter(
        enums.is_valid_enum(F.lower(F.col("ad_status")), enums.AFFECTED_DEPARTURES_STATUS)
        & enums.is_valid_enum("deviation_cases_type", enums.DEVIATION_CASES_TYPE)
        & enums.is_valid_enum("affected_departures_type", enums.AFFECTED_DEPARTURES_TYPE)
        & enums.is_valid_enum("category", enums.CATEGORY)
        & enums.is_valid_enum("sub_category", enums.SUB_CATEGORY)
        & F.col("ts_epoch_ms").isNotNull()
    ).drop("ad_status")


def dedup_cancellations(df: DataFrame) -> DataFrame:
    """A2 — one survivor per (dvj_id, deviation_case_id)."""
    return priority_argmax(
        df,
        group_cols=["dvj_id", "deviation_case_id"],
        status_col="status",
        encounter_order_col="dc_last_modified",
        ts_col="ts_epoch_ms",
    )


#: (appId, params) -> (OMM source key, journey frame, pipeline frame).
#: Building the pipeline plan costs ~0.3-0.5 s of py4j/Catalyst work
#: warm, and several registry builds per bench pass consume it.  Bounded
#: to the most recent ``_PIPELINE_CACHE_SIZE`` params (a poller's ``now``
#: moves every cycle) and released together with the journey frame its
#: plans read.
_PIPELINE_CACHE: dict[tuple, tuple] = register_artifact_frame_cache({})
_PIPELINE_CACHE_SIZE = 2


def cancellation_pipeline(
    spark: SparkSession, params: QueryParams | None = None
) -> DataFrame:
    """scan → join → filter → project → decode → dedup (E1 through A2).

    Requires base testdata views (``catalog.load_tables``) to be
    registered; registers the derived OMM views itself.  Returns the
    deduplicated, send-ready record set (the input to A3 diff / S6
    sink).  The join is split as ``raw_cancellations`` describes: the
    persisted journey side is reused while its ptDOI4 sources are
    unchanged, and the deviation side is re-planned when an OMM source
    moves.  The built frame is memoized per (session, params) while the
    source keys of all 11 relations and the live journey frame are
    unchanged, so a served plan never reads a released journey frame.
    """
    params = params or QueryParams()
    register_omm_views(spark)
    key = (spark.sparkContext.applicationId, params)
    sources = omm_sources(spark, OMM_VIEW_NAMES)
    journey = journey_side(spark)
    entry = _PIPELINE_CACHE.get(key)
    if entry is None or entry[0] != sources or entry[1] is not journey:
        raw = raw_cancellations(spark, params)
        df = dedup_cancellations(decode_cancellations(raw)).drop("dc_last_modified")
        _PIPELINE_CACHE.pop(key, None)
        entry = _PIPELINE_CACHE[key] = (sources, journey, df)
        while len(_PIPELINE_CACHE) > _PIPELINE_CACHE_SIZE:
            del _PIPELINE_CACHE[next(iter(_PIPELINE_CACHE))]
    return entry[2]


# ---------------------------------------------------------------------------
# DuckDB oracle — the same lifecycle in portable SQL, built on the same
# derivation CTEs, used by the driver's correctness harness.
# ---------------------------------------------------------------------------

def _sql_quote_list(values: list[str]) -> str:
    return ", ".join("'" + v + "'" for v in values)


def cancellation_oracle_sql(params: QueryParams | None = None) -> str:
    """DuckDB-dialect equivalent of ``cancellation_pipeline``."""
    p = params or QueryParams()
    temporal = f"""(DC.valid_to > TIMESTAMP '{p.now}'
            OR (DC.valid_to IS NULL AND AD.status = 'deleted'
                AND DVJ.OperatingDayDate >= TIMESTAMP '{p.today} 00:00:00'))"""
    if p.mode == "PAST":
        temporal = f"""({temporal}
            OR ((DC.valid_to <= TIMESTAMP '{p.now}'
                 OR (DC.valid_to IS NULL AND AD.status = 'deleted'
                     AND DVJ.OperatingDayDate < TIMESTAMP '{p.today} 00:00:00'))
                AND DC.last_modified >= TIMESTAMP '{p.since}'))"""
    return f"""
WITH {omm_ctes()},
raw AS (
    SELECT
        DC.deviation_case_id AS deviation_case_id,
        DC.type AS deviation_cases_type,
        DC.last_modified AS dc_last_modified,
        AD.last_modified AS ad_last_modified,
        AD.status AS ad_status,
        AD.type AS affected_departures_type,
        BLM.title AS title,
        BLM.description AS description,
        B.category AS category,
        B.sub_category AS sub_category,
        CAST(DVJ.Id AS VARCHAR) AS dvj_id,
        KVV.StringValue AS route_id,
        CAST(substring(CAST(VJT.IsWorkedOnDirectionOfLineGid AS VARCHAR), 12, 1) AS INTEGER) AS direction_id,
        strftime(DVJ.OperatingDayDate, '%Y%m%d') AS start_date,
        lpad(CAST((CAST(floor(datediff('minute', TIMESTAMP '1900-01-01 00:00:00', DVJ.PlannedStartOffsetDateTime) / 60) AS BIGINT) % 100) AS VARCHAR), 2, '0')
          || ':' ||
        lpad(CAST((datediff('minute', TIMESTAMP '1900-01-01 00:00:00', DVJ.PlannedStartOffsetDateTime) % 60) AS VARCHAR), 2, '0')
          || ':00' AS start_time
    FROM omm_deviation_cases DC
    LEFT JOIN omm_affected_departures AD ON DC.deviation_case_id = AD.deviation_case_id
    LEFT JOIN omm_bulletin_localized_messages BLM ON DC.bulletin_id = BLM.bulletins_id
    LEFT JOIN omm_bulletins B ON DC.bulletin_id = B.bulletins_id
    INNER JOIN omm_dated_vehicle_journey DVJ ON DVJ.Id = AD.departure_id
    INNER JOIN omm_vehicle_journey VJ ON VJ.Id = DVJ.IsBasedOnVehicleJourneyId
    INNER JOIN omm_vehicle_journey_template VJT ON VJT.Id = DVJ.IsBasedOnVehicleJourneyTemplateId
    INNER JOIN omm_key_variant_value KVV ON KVV.IsForObjectId = VJ.Id
    INNER JOIN omm_key_variant_type KVT ON KVT.Id = KVV.IsOfKeyVariantTypeId
    INNER JOIN omm_key_type KT ON KT.Id = KVT.IsForKeyTypeId
    INNER JOIN omm_object_type OT ON OT.Number = KT.ExtendsObjectTypeNumber
    WHERE BLM.language_code = 'fi'
      AND {temporal}
      AND KT.Name IN ('JoreIdentity', 'JoreRouteIdentity', 'RouteName')
      AND OT.Name = 'VehicleJourney'
      AND VJT.IsWorkedOnDirectionOfLineGid IS NOT NULL
      AND DVJ.IsReplacedById IS NULL
),
decoded AS (
    SELECT
        deviation_case_id, route_id, direction_id, start_date, start_time,
        CASE WHEN lower(ad_status) = 'deleted' THEN 'RUNNING' ELSE 'CANCELED' END AS status,
        CAST(1 AS INTEGER) AS schema_version,
        dvj_id, deviation_cases_type, affected_departures_type,
        title, description, category, sub_category,
        epoch_ms(timezone('Europe/Helsinki', ad_last_modified)) AS ts_epoch_ms,
        dc_last_modified
    FROM raw
    WHERE lower(ad_status) IN ({_sql_quote_list(enums.AFFECTED_DEPARTURES_STATUS)})
      AND deviation_cases_type IN ({_sql_quote_list(enums.DEVIATION_CASES_TYPE)})
      AND affected_departures_type IN ({_sql_quote_list(enums.AFFECTED_DEPARTURES_TYPE)})
      AND category IN ({_sql_quote_list(enums.CATEGORY)})
      AND sub_category IN ({_sql_quote_list(enums.SUB_CATEGORY)})
      AND ad_last_modified IS NOT NULL
),
dedup AS (
    SELECT *, row_number() OVER (
        PARTITION BY dvj_id, deviation_case_id
        ORDER BY CASE WHEN status = 'CANCELED' THEN 0 ELSE 1 END ASC,
                 CASE WHEN status = 'CANCELED' THEN 0.0 ELSE -CAST(ts_epoch_ms AS DOUBLE) END ASC,
                 dc_last_modified ASC,
                 ts_epoch_ms ASC
    ) AS rn
    FROM decoded
)
SELECT deviation_case_id, route_id, direction_id, start_date, start_time,
       status, schema_version, dvj_id, deviation_cases_type,
       affected_departures_type, title, description, category, sub_category,
       ts_epoch_ms
FROM dedup WHERE rn = 1
"""
