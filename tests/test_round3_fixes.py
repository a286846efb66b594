"""Round-3 fixes: ADVICE items (resample rate rule, AVI first-video-
stream demux, snapshot-overwrite tombstones) plus the two dedup
upgrades (vectorized batch token hashing, transitive rep election in
embedding_cosine_dedup)."""

import struct

import numpy as np
import pytest

from rp_extract_spark.operators.dedup import (
    _hash_token_array,
    _shingle_hashes,
    _shingle_hashes_batch,
    _token_hash,
    embedding_cosine_dedup,
    minhash_signature,
)


# ---------- ADVICE medium: auto_resample matches audiofile_read.py:74 ----------

@pytest.mark.parametrize(
    "rate_in,rate_out",
    [(8000, 22050), (11024, 22050), (16000, 22050), (32000, 44100),
     (48000, 44100), (96000, 44100)],
)
def test_auto_resample_rate_rule(rate_in, rate_out):
    """Reference rule (audiofile_read.py:74): ``to_samplerate = 22050
    if samplerate < 22050 else 44100`` — low rates must NOT be
    upsampled to 44100."""
    from rp_extract_spark.functions.audio import auto_resample

    x = np.sin(2 * np.pi * 440 * np.arange(rate_in) / rate_in)
    sr, y = auto_resample(x, rate_in)
    assert sr == rate_out
    assert y.shape[0] == rate_out  # 1 second in = 1 second out


def test_auto_resample_passthrough_rates():
    from rp_extract_spark.functions.audio import auto_resample

    for r in (11025, 22050, 44100):
        x = np.zeros(100)
        sr, y = auto_resample(x, r)
        assert sr == r and y.shape[0] == 100


def test_low_rate_extraction_uses_22050_segment_plan():
    """An 8 kHz clip must extract with the 22050 plan (segment size
    2**17), not the 44100 plan (2**18) — descriptor parity with the
    reference depends on it."""
    from rp_extract_spark.functions.audio import auto_resample, extract_audio_features
    from rp_extract_spark.functions.segmentation import SEGMENT_SIZES

    rng = np.random.default_rng(5)
    x = rng.standard_normal(8000 * 10)  # 10 s at 8 kHz
    sr, y = auto_resample(x, 8000)
    assert sr == 22050
    feats = extract_audio_features(y, sr)
    assert feats["rp"].shape == (1440,)
    assert np.isfinite(feats["rp"]).all()
    assert SEGMENT_SIZES[22050] != SEGMENT_SIZES[44100]


# ---------- vectorized batch token hashing (identical values) ----------

def test_hash_token_array_matches_scalar():
    toks = ["the", "cat", "sat", "the", "cat", "θ", "", "the"]
    got = _hash_token_array(toks)
    want = np.array([_token_hash(t) for t in toks], dtype=np.uint64)
    assert (got == want).all()


def test_hash_token_array_empty():
    assert _hash_token_array([]).shape == (0,)


def test_shingle_batch_matches_scalar():
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        "one",
        "a b c d e f g h i j k l m",
        "the the the the",
    ]
    batch = _shingle_hashes_batch(texts, k=3, mode="word")
    for t, got in zip(texts, batch):
        want = _shingle_hashes(t, 3, "word")
        assert (got == want).all()


def test_minhash_signature_values_stable():
    """The factorize+gather rewrite must not change signature values
    (same blake2b per unique token, same rolling hash)."""
    sig = minhash_signature("alpha beta gamma delta epsilon zeta", 16, 3, seed=7)
    sig2 = minhash_signature("alpha beta gamma delta epsilon zeta", 16, 3, seed=7)
    assert (sig == sig2).all()
    assert sig.shape == (16,)
    P = (1 << 61) - 1
    assert (sig < P).all()


def test_batch_signatures_match_scalar_path(spark):
    from rp_extract_spark.operators.dedup import minhash_signatures

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs right now please"),
        (3, ""),
        (4, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: np.array(r.signature, dtype=np.int64)
           for r in minhash_signatures(df, n_hashes=32).collect()}
    for doc_id, t in texts:
        want = minhash_signature(t or "", 32, 3, seed=7).astype(np.int64)
        assert (got[doc_id] == want).all(), doc_id
    assert (got[1] == got[4]).all()


# ---------- transitive rep election in embedding_cosine_dedup ----------

def test_embedding_dedup_chain_transitive(spark):
    """Chain A~B~C (cos(A,B) and cos(B,C) above threshold, cos(A,C)
    below): all three must land on rep A, and reps must be fixpoints.
    One-hop election gave A rep B while B got rep C — the head's rep
    was itself deduped away (round-2 verdict, What's wrong #1)."""
    th = np.deg2rad(12.0)
    vecs = []
    for i in range(3):
        a = i * th
        vecs.append((i + 1, [float(np.cos(a)), float(np.sin(a)), 0.0, 0.0]))
    # cos(12 deg)=0.978 >= 0.97 for adjacent, cos(24 deg)=0.913 < 0.97
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    m = {r.vec_id: r.rep_id
         for r in embedding_cosine_dedup(df, threshold=0.97, n_planes=2,
                                         seed=13).collect()}
    assert m == {1: 1, 2: 1, 3: 1}
    # fixpoint: every rep's own rep is itself
    for rep in set(m.values()):
        assert m[rep] == rep


def test_embedding_dedup_reps_are_fixpoints(spark):
    rng = np.random.default_rng(21)
    rows = []
    for g in range(5):
        base = rng.standard_normal(8)
        base /= np.linalg.norm(base)
        for j in range(4):
            v = base + rng.standard_normal(8) * 1e-4
            rows.append((g * 10 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m = {r.vec_id: r.rep_id
         for r in embedding_cosine_dedup(df, threshold=0.999).collect()}
    assert len(m) == 20
    for _id, rep in m.items():
        assert m[rep] == rep  # fixpoint
    assert sum(1 for i, r in m.items() if i == r) == 5  # one rep per group


# ---------- AVI: only the first video stream's chunks ----------

def test_demux_avi_skips_foreign_streams():
    """An AVI with an audio stream (stream 00, 'auds') before the video
    stream (stream 01) must return only the 01dc payloads — not the
    interleaved 00wb audio chunks (round-2 ADVICE low)."""
    from rp_extract_spark.codecs.avi import _chunk, _list, demux_avi

    def strh(fcc_type: bytes, scale: int, rate: int) -> bytes:
        return struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            fcc_type, b"\x00\x00\x00\x00", 0, 0, 0,
            0, scale, rate, 0, 2, 64, 0xFFFFFFFF, 0, 0, 0, 8, 8,
        )

    auds_strl = _list(b"strl", _chunk(b"strh", strh(b"auds", 1, 44100))
                      + _chunk(b"strf", b"\x00" * 16))
    vids_strl = _list(b"strl", _chunk(b"strh", strh(b"vids", 1, 25))
                      + _chunk(b"strf", b"\x00" * 40))
    avih = struct.pack("<IIIIIIIIIIIIII", 40000, 0, 0, 0x10, 2, 0, 2,
                       64, 8, 8, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + auds_strl + vids_strl)
    movi = _list(
        b"movi",
        _chunk(b"00wb", b"AUDIO-0")
        + _chunk(b"01dc", b"FRAME-0")
        + _chunk(b"00wb", b"AUDIO-1")
        + _chunk(b"01dc", b"FRAME-1"),
    )
    body = b"AVI " + hdrl + movi
    data = b"RIFF" + struct.pack("<I", len(body)) + body

    fps, frames = demux_avi(data)
    assert fps == 25.0
    assert frames == [b"FRAME-0", b"FRAME-1"]


def test_demux_avi_single_stream_roundtrip_still_works():
    from rp_extract_spark.codecs.avi import demux_avi, encode_mjpeg_avi
    from rp_extract_spark.codecs.jpeg import decode_jpeg

    frames = [np.full((16, 16), 40 * (i + 1), dtype=np.uint8) for i in range(3)]
    data = encode_mjpeg_avi(frames, fps=10)
    fps, payloads = demux_avi(data)
    assert fps == 10.0 and len(payloads) == 3
    img = decode_jpeg(payloads[1])
    assert abs(float(img.mean()) - 80.0) < 6.0


# ---------- snapshot overwrite tombstones older manifests ----------

def test_overwrite_tombstones_prior_snapshots(spark, tmp_path):
    from rp_extract_spark.operators.resume import (
        list_snapshots,
        read_snapshot,
        write_snapshot,
    )

    out = str(tmp_path / "tbl")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    m1 = write_snapshot(df1, out, mode="append", ts_col=None)
    m2 = write_snapshot(df1.withColumn("k", df1.k + 10), out,
                        mode="append", ts_col=None)
    # overwrite deletes the files that m1/m2 pinned
    df3 = spark.range(3).withColumnRenamed("id", "k")
    m3 = write_snapshot(df3, out, mode="overwrite", ts_col=None)

    visible = [m["snapshot_id"] for m in list_snapshots(out)]
    assert visible == [m3["snapshot_id"]]
    full = [m["snapshot_id"] for m in list_snapshots(out, include_invalidated=True)]
    assert full == [m1["snapshot_id"], m2["snapshot_id"], m3["snapshot_id"]]

    # time travel to an invalidated snapshot: clear error, not a
    # missing-file crash; latest still readable
    with pytest.raises(ValueError, match="invalidated"):
        read_snapshot(spark, out, m1["snapshot_id"])
    assert read_snapshot(spark, out).count() == 3
    with pytest.raises(ValueError, match="unknown snapshot"):
        read_snapshot(spark, out, "nope")


def test_append_history_unaffected_by_tombstone_logic(spark, tmp_path):
    from rp_extract_spark.operators.resume import (
        list_snapshots,
        read_snapshot,
        write_snapshot,
    )

    out = str(tmp_path / "tbl2")
    df = spark.range(4).withColumnRenamed("id", "k")
    m1 = write_snapshot(df, out, mode="append", ts_col=None)
    m2 = write_snapshot(df.withColumn("k", df.k + 100), out,
                        mode="append", ts_col=None)
    assert [m["snapshot_id"] for m in list_snapshots(out)] == [
        m1["snapshot_id"], m2["snapshot_id"]
    ]
    assert read_snapshot(spark, out, m1["snapshot_id"]).count() == 4
    assert read_snapshot(spark, out).count() == 8


# ---------- review fixes: mp3 top short band, part2_3 bound ----------

def test_requantize_short_top_band_not_dropped():
    """Short-block band 12's scalefactor is untransmitted (sf = 0) but
    its spectral lines must still be scaled — a pure short-block
    granule with content above SFB_SHORT[sr][12]*3 lost it before the
    fix."""
    from rp_extract_spark.codecs import mp3

    g = {
        "global_gain": 210, "scalefac_scale": 0, "preflag": 0,
        "window_switching": 1, "block_type": 2, "mixed_block": 0,
        "subblock_gain": [0, 0, 0],
    }
    sf = {"l": [0] * 22, "s": [[0] * 13 for _ in range(3)]}
    is_ = np.zeros(576, dtype=np.int64)
    top = mp3.SFB_SHORT[44100][12] * 3
    is_[top] = 1
    xr = mp3._requantize(is_, g, sf, 44100)
    assert xr[top] == 1.0  # 1^(4/3) * 2^0, NOT dropped to 0


def _set_bits(buf: bytearray, start: int, n: int) -> None:
    for i in range(start, start + n):
        buf[i // 8] |= 0x80 >> (i % 8)


def test_part2_3_overflow_raises_mp3error():
    """A granule claiming more part2_3 bits than the frame's main data
    must raise Mp3Error (fuzz contract), not escape as IndexError."""
    from rp_extract_spark.codecs import mp3

    frame = bytearray(mp3.encode_mp3_subset([[(1, 1)]], samplerate=48000))
    side = bytearray(frame[4:21])
    # gr0 part2_3_length: side-info bits 18-29; gr1: bits 77-88.
    # 4095+4095 bits > the 939-byte main data of a 48 kHz 320 kbps frame
    _set_bits(side, 18, 12)
    _set_bits(side, 77, 12)
    frame[4:21] = side
    with pytest.raises(mp3.Mp3Error):
        mp3.decode_mp3(bytes(frame))


def test_demux_avi_malformed_strh_keeps_stream_index():
    """A corrupt (undersized) strh must still advance the stream index:
    a following vids stream is stream 1 and its chunks are 01dc."""
    from rp_extract_spark.codecs.avi import _chunk, _list, demux_avi

    def strh(fcc_type: bytes, scale: int, rate: int) -> bytes:
        return struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            fcc_type, b"\x00\x00\x00\x00", 0, 0, 0,
            0, scale, rate, 0, 2, 64, 0xFFFFFFFF, 0, 0, 0, 8, 8,
        )

    bad_strl = _list(b"strl", _chunk(b"strh", b"\x00" * 8))  # size < 32
    vids_strl = _list(b"strl", _chunk(b"strh", strh(b"vids", 1, 25))
                      + _chunk(b"strf", b"\x00" * 40))
    hdrl = _list(b"hdrl", bad_strl + vids_strl)
    movi = _list(b"movi", _chunk(b"01dc", b"FRAME-0")
                 + _chunk(b"00dc", b"FOREIGN"))
    body = b"AVI " + hdrl + movi
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    fps, frames = demux_avi(data)
    assert fps == 25.0
    assert frames == [b"FRAME-0"]


def test_pack_sequences_duplicate_ids_do_not_overlap(spark):
    """Duplicate id values must not share a peer-inclusive running
    total (RANGE-frame pitfall): spans tile [0, total) exactly."""
    from rp_extract_spark.operators.curation import pack_sequences

    rows = [("a", "w1 w2 w3"), ("a", "u1 u2"), ("b", "v1"),
            ("b", "x1 x2 x3 x4")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_sequences(df, budget=4).collect()
    spans = sorted((r.start_offset, r.n_tokens) for r in out)
    pos = 0
    for start, n in spans:
        assert start == pos, spans
        pos += n
    assert pos == 10
