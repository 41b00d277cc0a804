"""DuckDB oracle for the media feature queries.

The fake codecs (sources/media.py) generate payloads from CLOSED-FORM integer
arithmetic — samples_for is ``((t*f1) % 8192 - 4096) + (((t*f2) % 4096 -
2048) >> 1)`` with (f1, f2) drawn from splitmix64(clip_id), and frames_for is
``(x*a + y + 7*frame) % 256`` with ``a = (u & 0x3F) | 1`` — so every feature
the decode path derives (duration/peak/RMS/zero-crossings, sampled-frame mean
intensity) has an EXACT SQL restatement over sequence expansions. This turns
the former rows-only check into a full value-parity gate: the Spark side
decodes real bytes (decode → numpy features), the oracle re-derives the same
numbers without ever seeing the bytes, and a hash match proves the
encode→decode→feature chain end to end.

Integer semantics notes: every ``%`` operand is non-negative, so SQL and
numpy agree; ``>> 1`` on a possibly-negative int64 is arithmetic shift =
floor-division by 2 → ``floor(x / 2e0)``; RMS sums stay < 2^53 so the
float64 mean is exact in both engines and sqrt/multiply are single IEEE ops.
"""

from __future__ import annotations

from .sql_oracle import splitmix64_sql

# the generator cycles (sources/media.py)
_SR_CASE = "CASE i % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END"
_NS_CASE = "CASE (i // 4) % 4 WHEN 0 THEN 800 WHEN 1 THEN 1600 WHEN 2 THEN 2400 ELSE 4000 END"
_VW_CASE = "CASE i % 4 WHEN 0 THEN 32 WHEN 1 THEN 64 WHEN 2 THEN 48 ELSE 96 END"
_VH_CASE = "CASE i % 4 WHEN 0 THEN 24 WHEN 1 THEN 48 WHEN 2 THEN 32 ELSE 64 END"


def _wave_sql(t: str) -> str:
    """samples_for's sample ``t`` of clip (f1, f2). The waveform is closed
    form, so the next sample is this at ``t + 1``: no window over the
    samples."""
    return f"""GREATEST(-32768, LEAST(32767,
           ((({t}) * f1) % 8192 - 4096)
           + CAST(floor(((({t}) * f2) % 4096 - 2048) / 2e0) AS BIGINT)))"""


def media_features_sql(every: int = 2) -> str:
    """Twin of queries.q_media_features: audio features + video frame means
    in the long (kind, media_id, item, metric, value) shape. Media count =
    COUNT(part) (the query's _media_n)."""
    return f"""
WITH ids AS (
  SELECT row_number() OVER () - 1 AS i FROM part
), seeds AS (
  SELECT i, ({splitmix64_sql('i')}) AS u FROM ids
), clips AS (
  SELECT i,
         ({_SR_CASE})::BIGINT AS sr,
         ({_NS_CASE})::BIGINT AS ns,
         (u % 256)::BIGINT + 16 AS f1,
         ((u // 256) % 256)::BIGINT + 4 AS f2
  FROM seeds
), samples AS (
  SELECT i, sr, ns, {_wave_sql('s.t')} AS w,
         CASE WHEN s.t + 1 < ns THEN {_wave_sql('s.t + 1')} END AS wn
  FROM clips, unnest(generate_series(0, ns - 1)) s(t)
), afeat AS (
  SELECT i,
         MAX(ns * 1000 // sr) AS duration_ms,
         MAX(abs(w)) AS peak,
         CAST(floor(sqrt(SUM(w * w) / MAX(ns)) * 1000) AS BIGINT) AS rms_x1000,
         COALESCE(SUM(CASE WHEN wn IS NOT NULL AND w * wn < 0 THEN 1 END), 0)::BIGINT
           AS zero_crossings
  FROM samples GROUP BY i
), vids AS (
  SELECT i,
         ({_VW_CASE})::BIGINT AS w,
         ({_VH_CASE})::BIGINT AS h,
         (4 + i % 5)::BIGINT AS nf,
         ((u % 64)::BIGINT | 1) AS a
  FROM seeds
), vframes AS (
  SELECT i, w, h, a, f.fi AS fi
  FROM vids, unnest(generate_series(0, nf - 1, {every})) f(fi)
), vmeans AS (
  SELECT i, fi,
         -- SUM(BIGINT) is HUGEINT in DuckDB and would promote the whole
         -- unioned value column to int128, breaking the driver's TYPED
         -- value hash even when every value matches Spark's bigint
         ((SUM((xv.x * a + yv.y + 7 * fi) % 256) * 100) // MAX(w * h))::BIGINT AS mean_x100
  FROM vframes,
       unnest(generate_series(0, w - 1)) xv(x),
       unnest(generate_series(0, h - 1)) yv(y)
  GROUP BY i, fi
)
SELECT 'audio' AS kind, i AS media_id, 0::BIGINT AS item,
       'duration_ms' AS metric, duration_ms AS value FROM afeat
UNION ALL
SELECT 'audio', i, 0, 'peak', peak FROM afeat
UNION ALL
SELECT 'audio', i, 0, 'rms_x1000', rms_x1000 FROM afeat
UNION ALL
SELECT 'audio', i, 0, 'zero_crossings', zero_crossings FROM afeat
UNION ALL
SELECT 'video', i, fi, 'mean_intensity_x100', mean_x100 FROM vmeans
""".strip()
