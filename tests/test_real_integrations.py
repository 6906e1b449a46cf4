"""Real-library integration seams (r8 verdict #4/#5).

Two injection seams carry deterministic fakes in this container
because the heavy libraries are absent: the embedding model
(`embed_with_model` / `_FakeModel`) and the media codec
(`media_features` / `FakeMediaCodec`). Each seam gets BOTH:

- a runtime-GATE test that runs green HERE: constructing the real
  adapter without the library raises the documented ImportError
  naming the seam and the swap instruction (never an opaque
  ModuleNotFoundError from deep inside a worker), and
- a skip-if-absent INTEGRATION test that proves the real branch
  (sentence-transformers encode shape / PIL PNG decode) when the
  library IS installed — on a production image these run instead of
  skipping, so the seam is verified on both sides of the boundary.
"""
import importlib.util

import pytest

HAS_ST = importlib.util.find_spec("sentence_transformers") is not None
HAS_PIL = importlib.util.find_spec("PIL") is not None


# ------------------- embedding model seam (T4) ---------------------


@pytest.mark.skipif(
    HAS_ST, reason="sentence-transformers installed: gate unreachable"
)
def test_sentence_transformer_adapter_gate_names_the_seam():
    from citeconnect_datapipeline_spark.operators.similarity import (
        SentenceTransformerModel,
    )

    with pytest.raises(ImportError, match="embed_with_model"):
        SentenceTransformerModel.get("all-MiniLM-L6-v2")


def test_sentence_transformer_factory_is_picklable():
    """The factory closure must survive pickling to executors even
    where the library is absent — the import is deferred to get()."""
    import pickle

    from citeconnect_datapipeline_spark.operators.similarity import (
        SentenceTransformerModel,
    )

    f = SentenceTransformerModel.factory("all-MiniLM-L6-v2")
    f2 = pickle.loads(pickle.dumps(f))
    assert f2.args[0] == "all-MiniLM-L6-v2"


@pytest.mark.skipif(
    not HAS_ST, reason="sentence-transformers not installed"
)
def test_embed_with_real_model_end_to_end(spark):
    """Real inference through the SAME plan the fake exercises:
    mapInPandas, executor-local singleton, (n_texts -> n_vectors,
    fixed dim) contract, normalized vectors."""
    import math

    from citeconnect_datapipeline_spark.operators.similarity import (
        SentenceTransformerModel,
        embed_with_model,
    )

    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "ducks quack loudly")],
        "doc_id long, text string",
    )
    rows = embed_with_model(
        docs, SentenceTransformerModel.factory("all-MiniLM-L6-v2")
    ).collect()
    assert len(rows) == 2
    dims = {len(r["embedding"]) for r in rows}
    assert len(dims) == 1 and dims.pop() > 0
    for r in rows:
        norm = math.sqrt(sum(x * x for x in r["embedding"]))
        assert abs(norm - 1.0) < 1e-3  # normalize_embeddings=True
        assert r["model_name"] == "all-MiniLM-L6-v2"


# --------------------- media codec seam (§2.12) ---------------------


@pytest.mark.skipif(HAS_PIL, reason="Pillow installed: gate unreachable")
def test_real_media_codec_gate_names_the_seam():
    """PIL-absent containers: the codec still CONSTRUCTS (the stdlib
    WAV branch must work here — r11 verdict #4), and only the image
    branch raises the documented ImportError at decode time."""
    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    RealMediaCodec._instance = None
    codec = RealMediaCodec.get()  # no longer raises at init
    with pytest.raises(ImportError, match="FakeMediaCodec"):
        codec.decode("image", b"\x89PNG")


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed")
def test_real_media_codec_decodes_png():
    """The image branch against a real PNG: width/height from actual
    pixels, single frame, zero duration — FakeMediaCodec's schema,
    real values."""
    import io

    from PIL import Image

    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    buf = io.BytesIO()
    Image.new("RGB", (37, 21)).save(buf, format="PNG")
    out = RealMediaCodec.get().decode("image", buf.getvalue())
    assert out == {
        "width": 37,
        "height": 21,
        "duration_sec": 0.0,
        "n_frames": 0,
    }


def test_real_media_codec_video_still_stubbed():
    """video needs pyav regardless of PIL — the NotImplementedError
    contract holds on every install until that branch lands. (Audio
    is REAL now — see the WAV tests below.)"""
    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    RealMediaCodec._instance = None
    with pytest.raises(NotImplementedError, match="video"):
        RealMediaCodec.get().decode("video", b"\x00")


def _make_wav(
    seconds: float,
    rate: int = 8000,
    channels: int = 1,
    sampwidth: int = 2,
    amplitude: float = 0.5,
    freq: float = 440.0,
) -> bytes:
    import io
    import math
    import struct
    import wave

    nframes = int(seconds * rate)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(nframes):
            v = amplitude * math.sin(2 * math.pi * freq * i / rate)
            for _ in range(channels):
                if sampwidth == 2:
                    frames += struct.pack("<h", int(v * 32767))
                else:
                    frames += struct.pack("B", int(v * 127) + 128)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_real_media_codec_decodes_pcm_wav():
    """The WAV branch is REAL in this container (r11 verdict #4):
    duration/channels/rate from the actual container header, RMS
    windows from the actual samples (a 0.5-amplitude sine has RMS
    ~0.354 in every window), peak ~0.5."""
    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    RealMediaCodec._instance = None
    codec = RealMediaCodec.get()
    out = codec.decode_audio(_make_wav(2.0, rate=8000))
    assert out["duration_sec"] == 2.0
    assert out["channels"] == 1 and out["sample_rate"] == 8000
    assert out["n_samples"] == 16000
    assert len(out["rms_windows"]) == 8
    for rms in out["rms_windows"]:
        assert abs(rms - 0.5 / 2 ** 0.5) < 0.01
    assert abs(out["peak"] - 0.5) < 0.01
    # and through the COMMON decode schema: real duration, audio zeros
    assert codec.decode("audio", _make_wav(2.0)) == {
        "width": 0,
        "height": 0,
        "duration_sec": 2.0,
        "n_frames": 0,
    }


def test_real_media_codec_wav_8bit_stereo_and_silence():
    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    RealMediaCodec._instance = None
    codec = RealMediaCodec.get()
    out = codec.decode_audio(
        _make_wav(1.0, channels=2, sampwidth=1, amplitude=0.4)
    )
    assert out["channels"] == 2 and out["duration_sec"] == 1.0
    assert abs(out["peak"] - 0.4) < 0.02  # 8-bit quantization
    silent = codec.decode_audio(_make_wav(1.0, amplitude=0.0))
    assert silent["peak"] == 0.0
    assert all(r == 0.0 for r in silent["rms_windows"])


def test_real_media_codec_wav_unsupported_width_raises():
    """24-bit PCM must refuse loudly, never mis-decode."""
    import io
    import wave

    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00" * 100)
    RealMediaCodec._instance = None
    with pytest.raises(NotImplementedError, match="24-bit"):
        RealMediaCodec.get().decode_audio(buf.getvalue())


def test_audio_chunk_windows_real_through_spark_stage(spark):
    """The real-duration chunker end-to-end as a Spark stage: WAV
    bytes -> mapInPandas stdlib decode -> the SAME shared chunk plan
    as the oracled query. A 65 s clip tiles into [0,30)[30,60)
    [60,65]; a zero-length clip is dropped (the r5 parity
    contract)."""
    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
        audio_chunk_windows_real,
    )

    RealMediaCodec._instance = None
    media = spark.createDataFrame(
        [
            (1, bytearray(_make_wav(65.0, rate=2000))),
            (2, bytearray(_make_wav(0.0))),
        ],
        "doc_id long, payload binary",
    )
    rows = audio_chunk_windows_real(media).collect()
    got = [
        (r["doc_id"], r["chunk_idx"], r["start_sec"], r["end_sec"])
        for r in rows
    ]
    assert got == [(1, 0, 0.0, 30.0), (1, 1, 30.0, 60.0),
                   (1, 2, 60.0, 65.0)]
    assert all(r["duration_sec"] == 65.0 for r in rows)


# -------------- offline real model: hash-projection (T4) ------------


def test_hash_projection_model_end_to_end_in_container(spark, tmp_path):
    """A NON-fake model through the full T4 path, runnable in this
    container (numpy only): publish the named model to the lake,
    load its factory, run real inference through embed_with_model,
    and assert embedding semantics a per-text hash fake cannot show
    — token overlap moves cosine similarity (r9 verdict #6)."""
    import math

    from citeconnect_datapipeline_spark.operators.similarity import (
        HashProjectionModel,
        embed_with_model,
    )
    from citeconnect_datapipeline_spark.sinks.models import (
        load_embedding_model,
        save_embedding_model,
    )

    model_path = str(tmp_path / "models" / "hash_projection_v1")
    save_embedding_model(
        spark, HashProjectionModel.get().spec, model_path
    )
    factory = load_embedding_model(spark, model_path)

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "spark shuffles data across the cluster"),
            (3, "ducks quack loudly at dawn"),
        ],
        "doc_id long, text string",
    ).repartition(3)  # exercise the per-worker singleton path
    rows = {
        r["doc_id"]: r for r in embed_with_model(docs, factory).collect()
    }
    assert len(rows) == 3
    assert all(r["model_name"] == "hash-projection-v1" for r in rows.values())
    vecs = {k: list(r["embedding"]) for k, r in rows.items()}
    assert {len(v) for v in vecs.values()} == {64}
    for v in vecs.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    # token-overlapping texts are nearer than unrelated ones — real
    # bag-of-tokens geometry, not hash noise
    assert cos(vecs[1], vecs[2]) > 0.5 > cos(vecs[1], vecs[3])

    # determinism across a fresh load of the published spec
    rows2 = {
        r["doc_id"]: list(r["embedding"])
        for r in embed_with_model(
            docs, load_embedding_model(spark, model_path)
        ).collect()
    }
    assert rows2 == vecs


def test_embedding_model_artifact_corruption_gate(spark, tmp_path):
    from citeconnect_datapipeline_spark.sinks.models import (
        load_embedding_model,
    )

    bad = str(tmp_path / "bad_model")
    spark.createDataFrame(
        [("a", 8, 64, 1), ("b", 8, 64, 2)],
        "name string, dim int, n_features int, seed int",
    ).write.parquet(bad)
    with pytest.raises(ValueError, match="expected exactly 1 spec row"):
        load_embedding_model(spark, bad)


def test_hash_projection_model_empty_batch():
    """encode([]) returns [] — the n_texts -> n_vectors contract
    holds at zero (round-10 review #4)."""
    from citeconnect_datapipeline_spark.operators.similarity import (
        HashProjectionModel,
    )

    assert HashProjectionModel.get().encode([]) == []


def test_fake_model_embeds_null_text_as_empty_document(spark):
    """NULL text is the empty document: ``embed_with_model`` with the
    injected fake gives a NULL-text row the vector of ``''`` instead
    of crashing the worker."""
    import numpy as np

    from citeconnect_datapipeline_spark.operators.similarity import (
        _FakeModel,
        embed_with_model,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "spark")], "doc_id long, text string"
    )
    vecs = {
        r.doc_id: r.embedding
        for r in embed_with_model(docs, _FakeModel.get).collect()
    }
    assert vecs[1] == vecs[2] != vecs[3]
    # the embedding column is array<float>: compare at float32
    empty = np.float32(_FakeModel.get().encode([""])[0])
    assert np.array_equal(np.float32(vecs[2]), empty)


# ----------------- jdbc_upsert against a REAL embedded DB -----------


def _sqlite_factory(path):
    """Picklable per-partition connection factory (functools.partial
    over the stdlib connector; 30 s busy timeout so concurrent
    partitions queue on sqlite's file lock instead of failing)."""
    import functools
    import sqlite3

    return functools.partial(sqlite3.connect, path, 30.0)


def test_jdbc_upsert_against_real_sqlite(spark, tmp_path):
    """r10 verdict #6: the ON CONFLICT batching/transaction path
    end-to-end against a real embedded database — real SQL parse,
    real unique-constraint conflicts, real rowcounts, real commits,
    driven from executor processes via mapPartitions."""
    import sqlite3

    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    db = str(tmp_path / "upsert.db")
    with sqlite3.connect(db) as con:
        con.execute(
            "CREATE TABLE papers ("
            "id INTEGER PRIMARY KEY, title TEXT, cites INTEGER)"
        )
        con.executemany(
            "INSERT INTO papers VALUES (?, ?, ?)",
            [(1, "old one", 10), (2, "old two", 20)],
        )

    # ---- phase 1: DO NOTHING — conflicts are skipped, new rows land
    batch = spark.createDataFrame(
        [(1, "new one", 11), (3, "three", 30), (4, "four", 40)],
        "id long, title string, cites long",
    ).repartition(2)
    stats = jdbc_upsert(
        batch, "papers", "id", _sqlite_factory(db),
        on_conflict="nothing", paramstyle="qmark",
    )
    assert stats == {
        "attempted": 3, "inserted": 2, "skipped": 1,
        "failed": 0, "retried": 0,
    }
    with sqlite3.connect(db) as con:
        rows = dict(
            (i, (t, c))
            for i, t, c in con.execute(
                "SELECT id, title, cites FROM papers ORDER BY id"
            )
        )
    assert rows[1] == ("old one", 10)  # conflict skipped, not updated
    assert rows[3] == ("three", 30) and rows[4] == ("four", 40)

    # ---- phase 2: DO UPDATE — conflicts merge via excluded.*
    merge = spark.createDataFrame(
        [(1, "merged one", 12), (5, "five", 50)],
        "id long, title string, cites long",
    ).repartition(2)
    stats = jdbc_upsert(
        merge, "papers", "id", _sqlite_factory(db),
        on_conflict="update", paramstyle="qmark",
    )
    assert stats["attempted"] == 2 and stats["failed"] == 0
    with sqlite3.connect(db) as con:
        rows = dict(
            (i, (t, c))
            for i, t, c in con.execute("SELECT id, title, cites FROM papers")
        )
    assert rows[1] == ("merged one", 12)  # conflict row really updated
    assert rows[5] == ("five", 50)
    assert len(rows) == 5

    # ---- idempotence: re-running the merge changes nothing
    stats2 = jdbc_upsert(
        merge, "papers", "id", _sqlite_factory(db),
        on_conflict="update", paramstyle="qmark",
    )
    assert stats2["failed"] == 0
    with sqlite3.connect(db) as con:
        assert con.execute("SELECT COUNT(*) FROM papers").fetchone()[0] == 5


def test_jdbc_upsert_sqlite_row_fallback_isolates_bad_row(spark, tmp_path):
    """A genuinely unsatisfiable row (CHECK-constraint violation —
    sqlite silently auto-assigns rowids for NULL integer PKs, so a
    CHECK is the honest way to make the engine reject a row) fails
    the batch statement; the fallback isolates it so the good rows in
    the same batch still commit — the reference's per-paper continue,
    proven on real transactions."""
    import sqlite3

    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    db = str(tmp_path / "fallback.db")
    with sqlite3.connect(db) as con:
        con.execute(
            "CREATE TABLE t (id INTEGER PRIMARY KEY, "
            "v TEXT CHECK (v <> 'poison'))"
        )
    df = spark.createDataFrame(
        [(10, "good"), (12, "poison"), (11, "also good")],
        "id long, v string",
    ).coalesce(1)
    stats = jdbc_upsert(
        df, "t", "id", _sqlite_factory(db), paramstyle="qmark",
    )
    assert stats["attempted"] == 3
    assert stats["inserted"] == 2 and stats["failed"] == 1
    with sqlite3.connect(db) as con:
        got = sorted(con.execute("SELECT id FROM t"))
    assert got == [(10,), (11,)]


def test_jdbc_upsert_rejects_unknown_paramstyle(spark):
    from citeconnect_datapipeline_spark.sinks.upsert import jdbc_upsert

    df = spark.createDataFrame([(1, "x")], "id long, v string")
    with pytest.raises(ValueError, match="paramstyle"):
        jdbc_upsert(df, "t", "id", lambda: None, paramstyle="numeric")


def test_real_media_codec_wav_equal_time_windows_and_fullscale_peak():
    """Self-review r12 pins: (a) window edges split samples evenly
    (+-1) — the remainder is spread, never lumped into the tail;
    (b) full-scale NEGATIVE samples normalize to exactly -1.0, so
    peak never exceeds 1.0."""
    import io
    import struct
    import wave

    from citeconnect_datapipeline_spark.operators.multimodal import (
        RealMediaCodec,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(15)
        w.writeframes(
            struct.pack("<15h", -32768, *([1000] * 14))
        )
    RealMediaCodec._instance = None
    out = RealMediaCodec.get().decode_audio(buf.getvalue())
    assert out["peak"] == 1.0  # -32768 / 32768, never > 1
    # 15 samples into 8 windows: widths 1,2,2,2,2,2,2,2 (edges
    # n*i//8) — no window hoards the remainder
    assert len(out["rms_windows"]) == 8
    assert out["rms_windows"][0] == 1.0  # the lone full-scale sample
