"""Path/metadata projection operators — parity with the reference's parser
and href machinery, as pure column expressions (everything codegen'd):

- P1 regex path->fields projection (``RegexInputPathParser.parse``,
  reference stacbuilder/pathparsers.py:133-163): named regex groups ->
  typed columns via ``regexp_extract`` + ``cast``.
- P2 period-aware datetime derivation (``DefaultInputPathParser``,
  pathparsers.py:194-265): fill missing month/day by period, datetime =
  start, end = end-of-period (yearly: Dec 31 23:59:59; monthly: last day
  23:59:59; daily: same day 23:59:59; secondly: +1s).
- P8 href rewrite / URL templating (``CreateAssetUrlFromPath``,
  mapper.py:18-47; ``AlternateHrefGenerator`` S3 alternates,
  builder.py:109-134).
- P9 EPSG inference cascade (mapper.py:120-128; UTM-zone from tile_id,
  terracatalog.py:654-672).
- P10 precision rounding by pixel resolution (mapper.py:130-144).
- P11 tile-id parsing "E09N27" -> (easting, northing)
  (terracatalog.py:773-791).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_path_fields(
    df: DataFrame,
    path_col: str,
    pattern: str,
    type_map: dict[str, str] | None = None,
) -> DataFrame:
    """P1: extract every named group of ``pattern`` from ``path_col`` as a
    column, cast per ``type_map`` (default: string). Non-matching rows get
    empty-string -> NULL after cast, like the reference's silent skip."""
    type_map = type_map or {}
    compiled = re.compile(pattern)
    # Python named-group syntax (?P<x>...) is not valid Java regex; indices
    # are discovered Python-side, then the JVM gets plain groups.
    jvm_pattern = re.sub(r"\(\?P<[^>]+>", "(", pattern)
    out = df
    for name, idx in compiled.groupindex.items():
        col = F.regexp_extract(F.col(path_col), jvm_pattern, idx)
        typ = type_map.get(name, "string")
        if typ != "string":
            col = F.nullif(col, F.lit("")).cast(typ)
        out = out.withColumn(name, col)
    return out


def with_period_datetimes(df: DataFrame, period: str = "daily") -> DataFrame:
    """P2: derive (datetime, start_datetime, end_datetime) from year/month/
    day columns per the reference's period rules (pathparsers.py:226-265).
    Missing month/day are filled with 1 for coarser periods."""
    period = period.lower()
    if period not in ("yearly", "monthly", "daily", "secondly"):
        raise ValueError(f"period must be yearly|monthly|daily|secondly, got {period}")

    def _fill(name: str, allowed_missing: bool) -> Column:
        # missing month/day columns are filled with 1 for coarser periods
        # (pathparsers.py:226-230); finer periods require them.
        if name in df.columns:
            return F.coalesce(F.col(name), F.lit(1)) if allowed_missing else F.col(name)
        if not allowed_missing:
            raise ValueError(f"period={period} requires a '{name}' column")
        return F.lit(1)

    month = _fill("month", allowed_missing=period == "yearly")
    day = _fill("day", allowed_missing=period in ("yearly", "monthly"))
    start = F.make_timestamp(
        F.col("year"), month, day, F.lit(0), F.lit(0), F.lit(0)
    )
    if period == "yearly":
        end = F.make_timestamp(
            F.col("year"), F.lit(12), F.lit(31), F.lit(23), F.lit(59), F.lit(59)
        )
    elif period == "monthly":
        last = F.last_day(start.cast("date"))
        end = F.make_timestamp(
            F.col("year"), month, F.dayofmonth(last), F.lit(23), F.lit(59), F.lit(59)
        )
    elif period == "secondly":
        end = start + F.expr("INTERVAL 1 SECOND")
    else:  # daily
        end = F.make_timestamp(
            F.col("year"), month, day, F.lit(23), F.lit(59), F.lit(59)
        )
    return (
        df.withColumn("start_datetime", start)
        .withColumn("datetime", start)
        .withColumn("end_datetime", end)
    )


def asset_url(path: Column, data_root: str, url_template: str) -> Column:
    """P8: relativize ``path`` to ``data_root`` and substitute into the URL
    template's ``{}`` slot (mapper.py:44-47)."""
    rel = F.regexp_replace(path, "^" + re.escape(data_root.rstrip("/") + "/"), "")
    pre, _, post = url_template.partition("{}")
    return F.concat(F.lit(pre), rel, F.lit(post))


def s3_alternate_href(path: Column, bucket: str, root_path: str | None = None) -> Column:
    """P8: the reference's S3 alternate link (builder.py:109-134):
    s3://bucket[/root]/path-with-leading-slashes-stripped."""
    stripped = F.regexp_replace(path, "^/+", "")
    base = f"s3://{bucket}/" + (root_path.strip("/") + "/" if root_path else "")
    return F.concat(F.lit(base), stripped)


def epsg_from_tile_or_default(tile_id: Column, default: int = 4326) -> Column:
    """P9: EPSG inference cascade — UTM zone digits from a tile id like
    '31UFS' -> 32631 (int('326' + zone), terracatalog.py:654-672), else the
    default (mapper.py:126-128)."""
    zone = F.regexp_extract(tile_id, r"^(\d{2})[A-Z]", 1)
    return F.when(
        zone != "", F.concat(F.lit("326"), zone).cast("int")
    ).otherwise(F.lit(default))


def round_to_resolution(col: Column, resolution: Column) -> Column:
    """P10: round to 0.1-1% of pixel resolution —
    decimals = abs(int(log10(abs(res * 0.001)))) (mapper.py:130-139)."""
    decimals = F.abs(F.floor(F.log10(F.abs(resolution * F.lit(0.001))))).cast("int")
    # F.round needs a literal scale; emulate per-row scale with pow
    scale = F.pow(F.lit(10.0), decimals)
    return F.floor(col * scale + F.lit(0.5)) / scale


def parse_tile_id(tile_id: Column) -> tuple[Column, Column]:
    """P11: 'E09N27' -> (easting=9, northing=27) (terracatalog.py:773-791)."""
    e = F.regexp_extract(tile_id, r"E(\d+)", 1).cast("int")
    n = F.regexp_extract(tile_id, r"N(\d+)", 1).cast("int")
    return e, n
