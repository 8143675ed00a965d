"""q41: the flagship end-to-end query — the reference's ENTIRE pipeline
(canonicalize → transform → staging split → three MERGEs → star schema)
run in-engine and read back, verified against a DuckDB restatement of
the same semantics.

Unit tests pin each stage; this entry puts the whole composed path
under the row/schema/value-hash oracle: if any stage of the star-schema
normalization drifts (dedup keys, FK resolution, decimal discipline,
unit auto-create), the hash breaks.

Inputs are synthesized deterministically from `part` (messy Spanish
price-list shape: embedded measures/package counts, $-and-separator
prices, title-case-stable provider names) so the oracle can rebuild
the expected star rows with pure SQL.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import emit, load, register


def _synth_input(p: DataFrame) -> DataFrame:
    pk = F.col("p_partkey")
    descr = F.concat(
        F.lower(F.col("p_name")), F.lit(" "),
        F.col("p_size").cast("string"), F.lit("g x "),
        (pk % 20 + 1).cast("string"), F.lit(" (G"),
        (F.col("p_size") % 20).cast("string"), F.lit(") #"),
        pk.cast("string"),
    )
    price = F.concat(
        F.lit("$"), (pk % 9 + 1).cast("string"), F.lit("."),
        F.lpad((pk % 1000).cast("string"), 3, "0"), F.lit(","),
        F.lpad((pk % 100).cast("string"), 2, "0"),
    )
    return p.select(
        descr.alias("Producto"),
        F.lit("15/03/2024").alias("Fecha"),
        F.concat(F.lit("Provider "), (pk % 7 + 1).cast("string")).alias("Provedor"),
        price.alias("Precio"),
        (F.col("p_size") % 19).cast("string").alias("IVA"),
    )


@register(
    "q41_etl_star_pipeline",
    sql="""
    WITH input AS (
      SELECT lower(p_name) || ' ' || CAST(p_size AS VARCHAR) || 'g x ' ||
             CAST(p_partkey % 20 + 1 AS VARCHAR) || ' (G' ||
             CAST(p_size % 20 AS VARCHAR) || ') #' ||
             CAST(p_partkey AS VARCHAR) AS descr,
             'Provider ' || CAST(p_partkey % 7 + 1 AS VARCHAR) AS prov,
             '$' || CAST(p_partkey % 9 + 1 AS VARCHAR) || '.' ||
             lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0') || ',' ||
             lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0') AS price_str,
             CAST(p_size % 19 AS DECIMAL(18,2)) AS iva
      FROM part
    )
    SELECT prov AS provider_name,
           descr AS description,
           CAST(CAST(NULLIF(regexp_extract(descr, '(\\d+\\.?\\d*)\\s*([a-zA-Z]{1,3})', 1), '')
                AS DECIMAL(18,2)) AS DOUBLE) AS measure,
           lower(NULLIF(regexp_extract(descr, '(\\d+\\.?\\d*)\\s*([a-zA-Z]{1,3})', 2), '')) AS unit,
           CAST(NULLIF(regexp_extract(descr, 'x\\s*(\\d+)', 1), '') AS INT) AS package_units,
           CAST(iva AS DOUBLE) AS iva,
           CAST(CAST(regexp_replace(price_str, '[.,$ ]', '', 'g') AS DECIMAL(18,2)) AS DOUBLE) AS price
    FROM input
    """,
    doc="End-to-end star-schema pipeline under oracle: synthesize messy "
        "price-list rows from part, run canonicalize -> transform -> "
        "staging -> MERGE x3 (+UoM auto-create) into a temp warehouse, "
        "read the fact table back joined to its dimensions.  The oracle "
        "rebuilds the expected rows with pure SQL — descriptions are "
        "unique per part, so the star readback must be row-identical "
        "to the transformed input.",
    tags=("etl", "merge", "pipeline"),
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..merge import Warehouse, bootstrap
    from ..sources import orchestrator

    # repartition: part arrives as one file/partition and the exact-
    # parity Arrow UDF chain is CPU-bound
    par = spark.sparkContext.defaultParallelism
    raw = _synth_input(load(spark, sf_dir, "part")).repartition(par)
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="q41_wh_"))
    bootstrap(wh)
    # the product's own ingest chain, called as the CSV path, the
    # streaming ingest and perfbench call it, under the session's confs.
    # The chain releases its transform cache before returning, so the
    # readback below depends only on warehouse parquet.
    orchestrator.run_pipeline(wh, raw)

    pp = wh.read("provider_product").alias("pp")
    prod = wh.read("product").alias("prod")
    prov = wh.read("provider").alias("prov")
    uom = wh.read("unit_of_measure").alias("uom")
    return (
        pp.join(prod, F.col("pp.ProductId") == F.col("prod.Id"))
        .join(prov, F.col("pp.ProviderId") == F.col("prov.Id"))
        .join(uom, F.col("prod.UnitOfMeasureId") == F.col("uom.Id"), "left")
        .select(
            F.col("prov.Name").alias("provider_name"),
            F.col("prod.Description").alias("description"),
            # warehouse columns are DECIMAL (the star schema's exact
            # money/measure discipline); the graded output casts to
            # double for oracle hash parity (relational.catalog.emit)
            F.col("prod.Measure").cast("double").alias("measure"),
            F.lower(F.col("uom.Acronym")).alias("unit"),
            F.col("pp.PackageUnits").alias("package_units"),
            F.col("pp.IVA").cast("double").alias("iva"),
            F.col("pp.Price").cast("double").alias("price"),
        )
    )


@register(
    "q45_etl_native_transforms",
    sql="""
    WITH input AS (
      SELECT p_partkey,
             lower(p_name) AS producto,
             CAST(p_partkey % 28 + 1 AS VARCHAR) || '/' ||
             CAST(p_partkey % 12 + 1 AS VARCHAR) || '/2024' AS fecha,
             'AcmeCorp' || CAST(p_partkey % 7 AS VARCHAR) AS provedor,
             '$' || CAST(p_partkey % 1000 AS VARCHAR) || '.00' AS precio
      FROM part
    )
    SELECT p_partkey,
           strftime(try_strptime(trim(fecha), '%d/%m/%Y'), '%Y-%m-%d') AS clean_date,
           array_to_string([upper(w[1]) || lower(w[2:])
                            for w in string_split(trim(producto), ' ')], ' ') AS clean_description,
           array_to_string([upper(w[1]) || lower(w[2:])
                            for w in string_split(lower(regexp_replace(
                                regexp_replace(provedor, '[^A-Za-z0-9/% ]+', '', 'g'),
                                '([a-z])([A-Z0-9])', '\\1 \\2', 'g')), ' ')], ' ') AS clean_provider,
           CAST(CAST(regexp_replace(precio, '[.,$ ]', '', 'g') AS DECIMAL(18,2)) AS DOUBLE) AS clean_price
    FROM input
    """,
    doc="The zero-Python scale transform mode (mode='native': "
        "try_to_date format-coalesce + initcap casing) under its own "
        "oracle — q41 grades the exact-parity Arrow path, this grades "
        "the whole-stage-codegen path a 100 TB run would use.  Varying "
        "day-first dates exercise the format coalesce; camel-case "
        "provider names exercise split+initcap.",
    tags=("etl", "scalar", "native"),
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline import apply_transformations, map_columns_to_apply_transformations

    p = load(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    raw = p.select(
        pk.alias("p_partkey"),
        F.lower(F.col("p_name")).alias("Producto"),
        F.concat(
            (pk % 28 + 1).cast("string"), F.lit("/"), (pk % 12 + 1).cast("string"), F.lit("/2024")
        ).alias("Fecha"),
        F.concat(F.lit("AcmeCorp"), (pk % 7).cast("string")).alias("Provedor"),
        F.concat(F.lit("$"), (pk % 1000).cast("string"), F.lit(".00")).alias("Precio"),
    )
    wide = apply_transformations(map_columns_to_apply_transformations(raw), mode="native")
    return wide.select(
        "p_partkey",
        F.col("CleanLastReviewDt").alias("clean_date"),
        F.col("CleanDescription").alias("clean_description"),
        F.col("CleanProviderName").alias("clean_provider"),
        emit(F.col("CleanPrice")).alias("clean_price"),
    )
