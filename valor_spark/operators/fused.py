"""Fused one-decode audio analytics: every per-clip metric family in ONE
pass over the payload column.

At 10^12-clip scale the dominant cost of the audio tier is scanning and
decoding ``bytes`` — and the five per-family operators (audio_profile,
audio_spectrum, audio_loudness, audio_bandwidth, audio_defects) each
read and decode the payload independently.  A corpus intake job wants
ALL of them; running them separately multiplies the scan+decode cost by
five.  This operator calls the SAME per-family integer kernels
(profile_ints, spectral_ints, loudness_ints, bandwidth_ints,
defect_ints) on one decoded signal through the one-row-per-clip harness
(operators/audio.py::map_clips, which decodes with ``decode_one``): one
columnar scan of (clip_id, bytes, codec, sr_hz), one decode per clip,
zero shuffle, 24 integer/error columns out.

The per-family kernels remain the single source of truth — this module
contains NO metric arithmetic of its own, so the fused row is equal by
construction to the join of the five family operators on the same input
(asserted over every fixture plant in tests/test_fused.py, and gated
against a spec-side expected parquet in the driver contract).

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer; this is the scan-efficiency
composition of the graft's payload operators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the fused metric columns after clip_id and src_sr — family order:
#: profile, spectrum, loudness, bandwidth, defects
FUSED_FIELDS = (
    "n_samples int, "
    "peak_abs int, sum_sq bigint, n_clipped int, n_silent int, "
    "lead_silence int, trail_silence int, "
    "dom_hz int, impurity_milli int, "
    "n_blocks int, gated_blocks int, lufs_milli int, "
    "peak_milli_dbfs int, true_peak_milli_dbtp int, "
    "rolloff95_hz int, rolloff99_hz int, hf_permille int, "
    "max_clip_run int, max_zero_run int, max_zero_run_ms int, "
    "dc_offset_permille int"
)


def fused_ints(sig: np.ndarray, sr: int) -> tuple:
    """All five families' integers for one decoded int16 signal, in
    FUSED_FIELDS order."""
    from valor_spark.operators.audio import profile_ints, spectral_ints
    from valor_spark.operators.bandwidth import bandwidth_ints
    from valor_spark.operators.defects import defect_ints
    from valor_spark.operators.loudness import loudness_ints

    m, peak, sumsq, ncl, nsil, lead, trail = profile_ints(sig)
    _m, _db, dom_hz, _sb, imp = spectral_ints(sig, sr)
    _m, nblk, gblk, lufs, pk_db, tp_db = loudness_ints(sig, sr)
    _m, r95, r99, hf = bandwidth_ints(sig, sr)
    _m, _c, mcr, mzr, zms, dc = defect_ints(sig, sr)
    return (
        m, peak, sumsq, ncl, nsil, lead, trail,
        dom_hz, imp,
        nblk, gblk, lufs, pk_db, tp_db,
        r95, r99, hf,
        mcr, mzr, zms, dc,
    )


def audio_all_stats(clips: DataFrame) -> DataFrame:
    """Per-clip FUSED metric table ``(clip_id, src_sr, *FUSED_FIELDS,
    decode_error)`` in ONE mapInArrow pass: one scan, one decode, all
    families.  Error rows carry NULL for every gated/NULLable metric and
    zero for the counters, matching each family operator's own error
    contract."""
    from valor_spark.operators.audio import map_clips

    sel = clips.select(
        "clip_id", "bytes", "codec", "sr_hz",
        F.coalesce("sr_hz", F.lit(0)).alias("src_sr"),
    )
    return map_clips(
        sel,
        fused_ints,
        FUSED_FIELDS,
        (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, None, None, None,
         None, None, None, 0, 0, None, 0),
    )
