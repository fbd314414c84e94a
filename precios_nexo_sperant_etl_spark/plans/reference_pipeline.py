"""The reference's price-update pipeline on reference-shaped data
(Actualizar_Precios_de_Nexo.py stages 2-11, SURVEY §3.1) — the same spine
as ``price_pipeline`` but with the real Nexo/Sperant column vocabulary,
update rules, and audit outputs, so a user of the reference can run their
actual workload on this engine.

Materialized once: stages 2-9 build one plan (the Sperant dimension is
deduped then broadcast; the Nexo fact side never shuffles), and the flagged
frame is computed once with ``localCheckpoint`` so that ``updated``,
``detalle``, ``resumen`` and every sink scan it instead of re-running the
dedup window and the join. ``localCheckpoint`` rather than ``persist``:
its blocks belong to the checkpointed frame, and Spark's ContextCleaner
frees them once the caller drops the frames and the JVM collects them,
whereas a ``persist()`` stays pinned until someone calls ``unpersist`` —
and a caller making one call per artifact has no scope to do that in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import intlike_canon, norm_key
from ..operators.audit import audit_summary, change_flags
from ..operators.dedup import dedup_keep_latest
from ..operators.join import left_enrich, match_flags
from ..operators.update import coalesce_update, tower_prefix
from ..sources.ingest import COL_ESTADO, COL_NUMERO, COL_PRECIO

SPERANT_KEYS = ("nombre_proyecto", "nombre")
SPERANT_VALS = ("precio_lista", "estado_comercial", "fecha_actualizacion")


def canonical_units(nexo: DataFrame) -> DataFrame:
    """Stages 4/2.5: unit-number canonicalization (F6/F7, APN:243-250)
    and tower prefix (P11). Idempotent, so an already-updated frame
    passes through unchanged."""
    df = nexo.withColumn(COL_NUMERO, intlike_canon(F.col(COL_NUMERO)))
    if "Tipología" in df.columns:
        df = tower_prefix(df, project_col="Proyecto", typology_col="Tipología",
                          unit_col=COL_NUMERO)
    return df


def prepare_nexo(nexo: DataFrame) -> DataFrame:
    """Canonical unit numbers (``canonical_units``) plus the join keys
    (F1, APN:325-326)."""
    df = canonical_units(nexo)
    return (df.withColumn("_key_proy", norm_key(F.col("Proyecto")))
              .withColumn("_key_num", norm_key(F.col(COL_NUMERO))))


def prepare_sperant(sperant: DataFrame,
                    dedup_rule: str = "max_fecha") -> DataFrame:
    """Stage 5 (APN:305-335): null backfill for missing columns, string
    casts, key derivation, projection, W1 dedup (latest
    ``fecha_actualizacion`` wins; pandas sorts NaT *last*, so an undated
    row beats any dated one — reproduced via desc_nulls_first; ``_ord``
    is the positional tiebreak). A *string* ``fecha_actualizacion`` (the
    usual Sperant-export shape) is coerced via F8
    (``pd.to_datetime(errors="coerce")``, APN:137): junk → NULL."""
    from pyspark.sql.types import StringType

    from ..functions.dates import to_datetime_coerce

    df = sperant
    for c in (*SPERANT_KEYS, *SPERANT_VALS):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(
                "timestamp" if c == "fecha_actualizacion" else "string"))
    if isinstance(df.schema["fecha_actualizacion"].dataType, StringType):
        df = df.withColumn("fecha_actualizacion",
                           to_datetime_coerce(F.col("fecha_actualizacion")))
    if "_ord" not in df.columns:
        df = df.withColumn("_ord", F.monotonically_increasing_id())
    df = (df.withColumn("_key_proy", norm_key(F.col("nombre_proyecto")))
            .withColumn("_key_num", norm_key(F.col("nombre")))
            .select("_key_proy", "_key_num", "precio_lista", "estado_comercial",
                    "fecha_actualizacion", "_ord"))
    if dedup_rule == "max_fecha":
        return dedup_keep_latest(df, ["_key_proy", "_key_num"],
                                 "fecha_actualizacion", tiebreak="_ord")
    return dedup_keep_latest(df, ["_key_proy", "_key_num"], "_ord")


def update_prices(nexo: DataFrame, sperant: DataFrame,
                  mode: str = "preferir_nuevo",
                  dedup_rule: str = "max_fecha") -> dict[str, DataFrame]:
    """Stages 4-11 end-to-end. Returns the reference's output artifacts:

    - ``updated``  — every Nexo row with post-rule price/state (stage 9)
    - ``resumen``  — per-project audit summary with ratios (stage 11)
    - ``detalle``  — changed rows with ``_Antes``/``_Despues`` columns
    - ``solo_nexo`` / ``solo_sperant`` — project set differences (J4)
    """
    left = prepare_nexo(nexo)
    right = prepare_sperant(sperant, dedup_rule)

    # The non-null ``_m`` marker rides the one join so the match flag
    # mirrors the reference exactly: membership of the key pair in the
    # deduped Sperant set (APN:422-424), not value non-nullness (a
    # matching Sperant row may carry null price AND state).
    merged = left_enrich(
        left,
        right.select("_key_proy", "_key_num", "precio_lista", "estado_comercial",
                     F.lit(True).alias("_m")),
        on=["_key_proy", "_key_num"])

    to_num = F.col(COL_PRECIO).cast("double")
    merged = (merged
              .withColumn("_precio_antes", to_num)
              .withColumn("_estado_antes", F.col(COL_ESTADO))
              .withColumn(COL_PRECIO,
                          coalesce_update(to_num,
                                          F.col("precio_lista").cast("double"), mode))
              .withColumn(COL_ESTADO,
                          coalesce_update(F.col(COL_ESTADO),
                                          F.col("estado_comercial"), mode))
              .drop("precio_lista", "estado_comercial"))
    merged = match_flags(merged, "_m").drop("_m")

    flagged = change_flags(
        merged.withColumn("_precio_despues", F.col(COL_PRECIO).cast("double"))
              .withColumn("_estado_despues", F.col(COL_ESTADO)),
        price_before="_precio_antes", price_after="_precio_despues",
        state_before="_estado_antes", state_after="_estado_despues",
    ).localCheckpoint(eager=True)

    resumen = audit_summary(flagged, group_col="Proyecto").orderBy("Proyecto")

    detalle = (flagged.filter(F.col("Cambio_PrecioLista") | F.col("Cambio_Estado"))
               .select("Proyecto", COL_NUMERO,
                       F.col("_precio_antes").alias("Precio_Antes"),
                       F.col("_precio_despues").alias("Precio_Despues"),
                       F.col("_estado_antes").alias("Estado_Antes"),
                       F.col("_estado_despues").alias("Estado_Despues"),
                       "Cambio_PrecioLista", "Cambio_Estado"))

    updated = flagged.drop("_precio_antes", "_estado_antes", "_precio_despues",
                           "_estado_despues", "_key_proy", "_key_num")

    spark = flagged.sparkSession
    solo_nexo, solo_sperant = _project_set_differences(nexo, sperant)
    return {"updated": updated, "resumen": resumen, "detalle": detalle,
            "solo_nexo": spark.createDataFrame(
                [(k,) for k in solo_nexo], "Proyecto_solo_df_total string"),
            "solo_sperant": spark.createDataFrame(
                [(k,) for k in solo_sperant], "Proyecto_solo_df_sperant string")}


def _project_set_differences(nexo: DataFrame,
                             sperant: DataFrame) -> tuple[list, list]:
    """J4 (APN:467-470) both ways from one aggregation and one collect:
    the trimmed (not lowercased) project names of both sides are unioned
    and grouped once, and the ≤ |projects| keys are split and sorted on
    the driver into (Nexo-only, Sperant-only).

    Same answer as ``key_set_difference`` in each direction: an anti-join
    never matches a NULL key, so NULL is in a side's difference whenever
    that side has one. NULL sorts first, then code-point order, which is
    Spark's UTF-8 byte order.
    """
    keys = (nexo.select(F.trim(F.col("Proyecto").cast("string")).alias("p"),
                        F.lit(True).alias("nexo"))
            .unionByName(sperant.select(
                F.trim(F.col("nombre_proyecto").cast("string")).alias("p"),
                F.lit(False).alias("nexo")))
            .groupBy("p").agg(F.bool_or("nexo").alias("in_nexo"),
                              F.bool_or(~F.col("nexo")).alias("in_sperant"))
            .collect())

    def only(a: str, b: str) -> list:
        return sorted((r["p"] for r in keys if r[a] and (r["p"] is None or not r[b])),
                      key=lambda k: (k is not None, k or ""))

    return only("in_nexo", "in_sperant"), only("in_sperant", "in_nexo")
