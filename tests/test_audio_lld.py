"""audio_lld_frames — the reference's NATIVE signal chain (cFramer ->
cWindower -> cEnergy/cMZcr/cSpectral, framer.cpp / energy.cpp / mzcr.cpp /
spectral.cpp) over decoded WAV/FLAC payloads, distributed, feeding the
SAME downstream operators as the transcript pipeline."""

import numpy as np
import pytest

from opensmile_spark.multimodal import (
    AUDIO_LLD_COLS,
    audio_lld_frames,
    decode_wav,
    synthesize_wav_bytes,
    synthetic_media,
)
from opensmile_spark.operators.windower import window_weights


def _numpy_frame_oracle(x, sr, frame_s=0.025, hop_s=0.010,
                        window="hamming", rolloff_pct=0.90):
    """Straightforward per-frame loop — the plain-python twin of the
    vectorized kernel."""
    flen = max(int(round(frame_s * sr)), 2)
    hop = max(int(round(hop_s * sr)), 1)
    win = window_weights(window, flen)
    freqs = np.fft.rfftfreq(flen, d=1.0 / sr)
    rows = []
    for i, start in enumerate(range(0, x.size - flen + 1, hop)):
        fr = x[start:start + flen]
        msq = max(float(np.mean(fr * fr)), 0.0)
        mag = np.abs(np.fft.rfft(fr * win))
        tot = float(mag.sum())
        if tot > 0:
            centroid = float((mag * freqs).sum() / tot)
            cum = np.cumsum(mag)
            rolloff = float(freqs[int(np.searchsorted(
                cum, rolloff_pct * tot))])
        else:
            centroid = rolloff = 0.0
        gmean = float(np.exp(np.mean(np.log(np.maximum(mag, 1e-30)))))
        amean = float(np.mean(mag))
        rows.append({
            "frame_idx": i,
            "frame_ts": start / sr,
            "energy": float(np.sqrt(msq)),
            "log_energy": 10.0 * np.log10(max(msq, 1e-12)),
            "zcr": float(np.mean(fr[1:] * fr[:-1] < 0)),
            "centroid": centroid,
            "rolloff": rolloff,
            "flatness": gmean / amean if amean > 0 else 0.0,
        })
    return rows


@pytest.fixture(scope="module")
def media(spark):
    return synthetic_media(spark, n=12, real_audio=True).cache()


def test_matches_numpy_oracle(spark, media):
    out = audio_lld_frames(media.filter("kind = 'audio'")).toPandas()
    assert set(out.columns) == {"media_id", "frame_idx", "frame_ts",
                                *AUDIO_LLD_COLS}
    mid = int(out["media_id"].iloc[0])
    x, sr = decode_wav(synthesize_wav_bytes(mid))
    oracle = _numpy_frame_oracle(np.asarray(x, dtype=np.float64), sr)
    got = out[out["media_id"] == mid].sort_values("frame_idx")
    assert len(got) == len(oracle) > 10
    for col in ["frame_ts", *AUDIO_LLD_COLS]:
        np.testing.assert_allclose(
            got[col].to_numpy(), [r[col] for r in oracle],
            rtol=1e-10, atol=1e-12, err_msg=col)


def test_frame_count_contract(spark, media):
    """cFramer: only complete frames — n_frames = 1 + (N - flen) // hop."""
    counts = (audio_lld_frames(media.filter("kind = 'audio'"),
                               frame_s=0.03, hop_s=0.015)
              .groupBy("media_id").count().collect())
    assert counts
    for row in counts:
        x, sr = decode_wav(synthesize_wav_bytes(int(row["media_id"])))
        flen, hop = int(round(0.03 * sr)), int(round(0.015 * sr))
        assert row["count"] == 1 + (x.size - flen) // hop


def test_flac_payloads(spark):
    """The same chain over FLAC bytes (from-spec codec, lossless —
    identical samples => identical frame LLDs as the WAV twin)."""
    from tests.encoders import encode_flac

    mid = 7
    x, sr = decode_wav(synthesize_wav_bytes(mid))
    pcm = np.round(np.asarray(x, dtype=np.float64) * 32768.0).astype(
        np.int64)
    flac_payload = encode_flac(pcm, sr)
    df = spark.createDataFrame(
        [(mid, bytearray(synthesize_wav_bytes(mid))),
         (100 + mid, bytearray(flac_payload))],
        "media_id long, payload binary")
    out = audio_lld_frames(df).toPandas()
    wav = out[out.media_id == mid].sort_values("frame_idx")
    flac = out[out.media_id == 100 + mid].sort_values("frame_idx")
    assert len(wav) == len(flac) > 10
    # FLAC roundtrips int samples losslessly; decode scales match the
    # WAV path, so every LLD is identical up to float noise.
    for col in AUDIO_LLD_COLS:
        np.testing.assert_allclose(
            wav[col].to_numpy(), flac[col].to_numpy(),
            rtol=1e-9, atol=1e-10, err_msg=col)


def test_full_chain_into_functional_bank(spark, media):
    """Full circle: decoded audio -> frame LLDs -> the SAME
    functionals_kernel the transcript pipeline uses — one feature vector
    per clip, means pinned against numpy."""
    from opensmile_spark.functionals import functionals_kernel

    lld = audio_lld_frames(media.filter("kind = 'audio'"))
    fk = functionals_kernel(
        lld, ["energy", "zcr"], ("media_id",), order_col="frame_idx",
        families=["means", "moments"]).toPandas()
    assert len(fk) == media.filter("kind = 'audio'").count()
    mid = int(fk["media_id"].iloc[0])
    x, sr = decode_wav(synthesize_wav_bytes(mid))
    oracle = _numpy_frame_oracle(np.asarray(x, dtype=np.float64), sr)
    row = fk[fk.media_id == mid].iloc[0]
    np.testing.assert_allclose(
        row["energy_amean"], np.mean([r["energy"] for r in oracle]),
        rtol=1e-9)
    np.testing.assert_allclose(
        row["zcr_amean"], np.mean([r["zcr"] for r in oracle]), rtol=1e-9)


def test_on_error_column_quarantines(spark):
    good = synthesize_wav_bytes(3)
    df = spark.createDataFrame(
        [(3, bytearray(good)), (4, bytearray(b"RIFF\x00\x00\x00\x00WAVE"
                                             b"garbage")),
         (5, bytearray(b"not audio at all"))],
        "media_id long, payload binary")
    out = audio_lld_frames(df, on_error="column").toPandas()
    bad = out[out.frame_idx < 0]
    assert set(bad.media_id) == {4, 5}
    assert bad.decode_error.notna().all()
    assert (out[out.media_id == 3].decode_error.isna()).all()
    assert len(out[out.media_id == 3]) > 10
    with pytest.raises(Exception):
        audio_lld_frames(df).toPandas()


def test_short_clip_emits_no_frames(spark):
    """A clip shorter than one frame yields zero rows (cFramer emits
    only complete frames), not a crash."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x01" * 10)     # 10 samples << 400-sample frame
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                               "media_id long, payload binary")
    assert audio_lld_frames(df).count() == 0


def test_string_media_ids_carried(spark):
    """String media ids (the common corpus layout: URI/content-hash keys)
    flow through unchanged — the output schema derives the id type from
    the input instead of assuming long (similarity._id_ddl convention)."""
    df = spark.createDataFrame(
        [("s3://bucket/a.wav", bytearray(synthesize_wav_bytes(1))),
         ("s3://bucket/b.wav", bytearray(b"junk"))],
        "media_id string, payload binary")
    out = audio_lld_frames(df, on_error="column")
    assert out.schema["media_id"].dataType.simpleString() == "string"
    pdf = out.toPandas()
    assert set(pdf.media_id) == {"s3://bucket/a.wav", "s3://bucket/b.wav"}
    assert (pdf[pdf.media_id == "s3://bucket/b.wav"].frame_idx == -1).all()
