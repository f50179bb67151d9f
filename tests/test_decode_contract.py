"""The payload decode contract, pinned once across every per-clip audio
operator: NULL bytes, odd-length PCM, unknown codecs, broken WAV
containers, G.711 WAV, and NULL/zero ``sr_hz`` must surface the same way
(error string, error-row defaults, rate columns) whichever operator reads
the clip."""

import hashlib
import math
import struct

import numpy as np
import pytest

from valor_spark.operators import audio as A
from valor_spark.operators.audio_fp import audio_fingerprints, fingerprint_ints
from valor_spark.operators.bandwidth import audio_bandwidth, bandwidth_ints
from valor_spark.operators.defects import audio_defects, defect_ints
from valor_spark.operators.fused import audio_all_stats, fused_ints
from valor_spark.operators.loudness import audio_loudness, loudness_ints
from valor_spark.operators.resample import audio_resample_stats, resample_poly
from valor_spark.sources import synthetic as S

SR = 8000
TARGET_SR = 16000


def _melody() -> np.ndarray:
    """Silence, seven 1000-sample tones of rising pitch, silence: enough
    spectral transitions for landmark hashes and one clear segment."""
    x = np.zeros(SR, np.float64)
    t = np.arange(1000) / SR
    for k, f in enumerate((300, 450, 700, 1100, 1600, 2100, 2700)):
        x[400 + 1000 * k : 1400 + 1000 * k] = 8000 * np.cos(2 * np.pi * f * t)
    return x.astype("<i2")


def _g711_wav(pcm: np.ndarray) -> bytes:
    payload = A.encode_g711(pcm, "mulaw")
    fmt = struct.pack("<HHIIHH", 7, 1, SR, SR, 1, 8)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


PCM = _melody().tobytes()
WAV = S.wrap_wav(_melody(), SR)

#: clip_id, bytes, codec, sr_hz, decode error every operator reports
CASES = [
    ("ok", PCM, "pcm_s16le", SR, None),
    ("null", None, "pcm_s16le", SR, "null_bytes"),
    ("odd", PCM[:-1], "pcm_s16le", SR, "odd_byte_length"),
    ("mp3", PCM, "mp3", SR, "unsupported_codec:mp3"),
    ("trunc_hdr", WAV[:30], "wav", SR, "decode_failed:EOFError"),
    ("trunc_fmt", WAV[:40], "wav", SR, "decode_failed:wav_missing_chunks"),
    ("not_riff", b"not a riff payload", "wav", SR, "decode_failed:not_riff_wave"),
    ("g711_wav", _g711_wav(_melody()), "wav", SR, None),
    ("sr_null", PCM, "pcm_s16le", None, None),
    ("sr_zero", PCM, "pcm_s16le", 0, None),
    ("null_sr0", None, "pcm_s16le", 0, "null_bytes"),
    ("odd_sr0", PCM[:-1], "pcm_s16le", 0, "odd_byte_length"),
]


def _clips(spark):
    return spark.createDataFrame(
        [(c, b, codec, sr, "t") for c, b, codec, sr, _ in CASES],
        "clip_id string, bytes binary, codec string, sr_hz int, transcript string",
    )


def _decoded():
    """(clip_id, sig | None, sr as the kernels see it, error, raw sr)."""
    out = []
    for cid, raw, codec, sr, err in CASES:
        sig, _rate, got = A.decode_one(raw, codec)
        assert got == err, cid
        out.append((cid, sig, sr if sr is not None else 0, err, sr))
    return out


def _md5(sig):
    return hashlib.md5(np.ascontiguousarray(sig, "<i2").tobytes()).hexdigest()


def _resample_row(sig, sr):
    if sr <= 0:
        return None
    y = resample_poly(np.asarray(sig), sr, TARGET_SR)
    return (len(sig), len(y), A.spectral_ints(y, TARGET_SR)[2])


#: one-row operators: (operator, DDL, ok-row kernel, error row) where the
#: kernel and error row give the columns between the rate columns and
#: decode_error
ONE_ROW = {
    "audio_profile": (
        A.audio_profile,
        "clip_id string, n_samples int, peak_abs int, sum_sq bigint, "
        "n_clipped int, n_silent int, lead_silence int, trail_silence int, "
        "decode_error string",
        lambda sig, sr: A.profile_ints(sig),
        (0, 0, 0, 0, 0, 0, 0),
    ),
    "audio_spectrum": (
        A.audio_spectrum,
        "clip_id string, n_samples int, dom_bin int, dom_hz int, "
        "second_bin int, impurity_milli int, decode_error string",
        A.spectral_ints,
        (0, 0, 0, 0, 0),
    ),
    "audio_content_hash": (
        A.audio_content_hash,
        "clip_id string, content_hash string, decode_error string",
        lambda sig, sr: (_md5(sig),),
        (None,),
    ),
    "audio_all_stats": (
        audio_all_stats,
        "clip_id string, src_sr int, n_samples int, peak_abs int, "
        "sum_sq bigint, n_clipped int, n_silent int, lead_silence int, "
        "trail_silence int, dom_hz int, impurity_milli int, n_blocks int, "
        "gated_blocks int, lufs_milli int, peak_milli_dbfs int, "
        "true_peak_milli_dbtp int, rolloff95_hz int, rolloff99_hz int, "
        "hf_permille int, max_clip_run int, max_zero_run int, "
        "max_zero_run_ms int, dc_offset_permille int, decode_error string",
        lambda sig, sr: fused_ints(np.asarray(sig), sr),
        (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, None, None, None, None, None,
         None, 0, 0, None, 0),
    ),
    "audio_defects": (
        audio_defects,
        "clip_id string, n_samples int, clipped_samples int, "
        "max_clip_run int, max_zero_run int, max_zero_run_ms int, "
        "dc_offset_permille int, decode_error string",
        defect_ints,
        (0, 0, 0, 0, None, 0),
    ),
    "audio_bandwidth": (
        audio_bandwidth,
        "clip_id string, src_sr int, n_samples int, rolloff95_hz int, "
        "rolloff99_hz int, hf_permille int, decode_error string",
        bandwidth_ints,
        (0, None, None, None),
    ),
    "audio_loudness": (
        audio_loudness,
        "clip_id string, n_samples int, n_blocks int, gated_blocks int, "
        "lufs_milli int, peak_milli_dbfs int, true_peak_milli_dbtp int, "
        "decode_error string",
        loudness_ints,
        (0, 0, 0, None, None, None),
    ),
    "audio_resample_stats": (
        lambda df: audio_resample_stats(df, TARGET_SR),
        "clip_id string, src_sr int, out_sr int, n_in int, n_out int, "
        "dom_hz int, decode_error string",
        _resample_row,
        (0, 0, 0),
    ),
}


def _rate_cols(name, sr):
    """The rate columns after clip_id; filled on error rows too."""
    if name in ("audio_all_stats", "audio_bandwidth"):
        return (sr,)
    if name == "audio_resample_stats":
        return (sr, TARGET_SR)
    return ()


def _one_row(name):
    def run(spark):
        op, ddl, kernel, err_row = ONE_ROW[name]
        out = op(_clips(spark))
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out.schema)
        got = {r.clip_id: tuple(r) for r in out.collect()}
        exp = {}
        for cid, sig, sr, err, _raw_sr in _decoded():
            if name == "audio_resample_stats" and err != "null_bytes" and sr <= 0:
                # null_bytes, then bad_rate (checked before any decode),
                # then the decode errors
                err = "bad_rate"
            metrics = err_row if err is not None else kernel(sig, sr)
            exp[cid] = (cid, *_rate_cols(name, sr), *metrics, err)
        return (schema, got), (ddl, exp)

    return run


def _segments(spark):
    got = sorted(tuple(r) for r in A.audio_segments(_clips(spark)).collect())
    # undecodable clips emit nothing; every decodable clip carries the one
    # sound run of the melody (the rate plays no part)
    return got, [(cid, 0, 400, 7400) for cid in sorted(("ok", "g711_wav", "sr_null", "sr_zero"))]


def _fingerprints(spark):
    got = sorted(tuple(r) for r in audio_fingerprints(_clips(spark)).collect())
    exp = []
    for cid, sig, sr, err, _raw_sr in _decoded():
        if err is None:
            h, t = fingerprint_ints(sig, sr)
            exp += [(cid, int(a), int(b)) for a, b in zip(h, t)]
    # only decodable clips with a usable rate fingerprint
    assert {r[0] for r in exp} == {"ok", "g711_wav"}
    return got, sorted(exp)


def _invariant(spark):
    ref = spark.createDataFrame(
        [(cid, (sig if sig is not None else _melody()).astype("<i2").tobytes(), "t")
         for cid, sig, _sr, _err, _raw in _decoded()],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    got = {}
    for r in A.with_audio_invariant(_clips(spark), ref).collect():
        snr = "nan" if math.isnan(r.snr_db) else r.snr_db
        got[r.clip_id] = (*r[:3], snr, *r[4:])
    exp = {}
    for cid, sig, _sr, err, raw_sr in _decoded():
        header = SR if cid == "g711_wav" else None
        if err is None:
            exp[cid] = (cid, True, raw_sr, math.inf, len(sig), None, header)
        else:
            exp[cid] = (cid, True, raw_sr, "nan", 0, err, None)
    return got, exp


CONTRACT = {
    **{name: _one_row(name) for name in ONE_ROW},
    "audio_segments": _segments,
    "audio_fingerprints": _fingerprints,
    "with_audio_invariant": _invariant,
}


@pytest.mark.parametrize("name", sorted(CONTRACT))
def test_decode_contract(spark, name):
    got, exp = CONTRACT[name](spark)
    assert got == exp
