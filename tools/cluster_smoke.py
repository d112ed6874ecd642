"""One-command cluster smoke for the environment-blocked
verifications (VERDICT r8 item #7): real Kafka broker and Delta table
format. Without a broker or the Delta jars each check prints
SKIP(env); on any fully-provisioned cluster this script runs the
SAME assertions the in-container twins pin, and prints one PASS /
FAIL / SKIP(env) line per check — turning the COVERAGE.md ledger
from "not implemented here" into "not verifiable here, one command
elsewhere".

Usage (see RUNBOOK.md for the full walkthrough)::

    PYTHONPATH=/path/to/repo python tools/cluster_smoke.py \
        [--sf /path/to/testdata/sf0.01] \
        [--kafka-bootstrap host:9092] \
        [--delta]            # requires delta-spark on the classpath
        [--codec-interop]    # requires Pillow and/or libjpeg/libwebp CLIs

Checks:

1. ``kafka``   — needs --kafka-bootstrap. Publishes the events fixture
   to a throwaway topic with the same key routing sources/kafka_shim.py
   uses, streams it back through ``format("kafka")``, and asserts the
   tumbling-window counts equal BOTH the batch computation and the
   shim's result over the same rows (the stream==batch gate from
   tests/test_crash_recovery.py, now over the wire).
2. ``delta``   — needs --delta + delta-spark configured. Replays the
   CDC fixture through one ``MERGE INTO`` per micro-batch (the exact
   statement documented in streaming/sinks.py:_merge_cdc_batch) and
   asserts the final table equals merge_cdc_sink's parquet snapshot,
   including the retained delete tombstones being invisible in the
   read view.
3. ``codec-interop`` (``--codec-interop``, round 10 / VERDICT r9
   item #3) — closes the documented memory-risk on the
   hand-transcribed codec constant tables (T.81 Table D.3 in
   jpeg_arith.py, the VP8L distance map in webp.py, the RFC 6386
   tables in vp8.py) by decoding streams produced by EXTERNAL
   encoders and vice versa, on fixed deterministic vectors:

   - ``png16``  — Pillow writes a 16-bit grayscale PNG → this repo's
     decoder reproduces the uint16 samples; reverse: our
     ``encode_png(depth=16)`` → Pillow readback.
   - ``adam7``  — our interlaced writer → Pillow readback: pins our
     pass layout against a foreign unfilterer (Pillow cannot WRITE
     Adam7, so the forward direction is the only one available — and
     the load-bearing one).
   - ``jpeg``   — Pillow baseline+progressive encode → our decoder vs
     Pillow's own decode (IDCT-tolerance compare, |Δ| ≤ 3); reverse:
     our baseline encoder → Pillow readback.
   - ``jpeg-arith`` — needs ``jpegtran`` built with arithmetic
     support: our baseline stream transcoded ``-arithmetic`` (and
     ``-progressive -arithmetic``) must decode BIT-IDENTICALLY to the
     huffman original through our decoder — a transcode preserves
     coefficients exactly, so this pins Table D.3 and the Annex F/G
     context models against libjpeg's encoder with zero tolerance.
   - ``vp8l``   — needs ``cwebp``: lossless-encodes gradient vectors
     (gradients make the PREDICTOR transform profitable, exercising
     modes 11-13) → our ``decode_vp8l`` must reproduce the source
     pixels exactly; reverse: our ``encode_vp8l`` → ``dwebp``/Pillow.
   - ``vp8``    — needs ``cwebp`` + ``dwebp``/Pillow: lossy-encodes a
     vector and compares our RFC 6386 decode against the system
     decode. EXPECTED TO FAIL while
     ``multimodal.vp8.INTEROP_TABLES_VERIFIED`` is False (the big RFC
     probability tables are documented placeholders); the failure
     line names the flag so the to-do cannot rot silently.
   - ``jpeg-lossless`` — needs libjpeg-turbo >= 3.0 ``cjpeg``/
     ``djpeg``: foreign ``-lossless`` streams at predictors 1/4/7
     must decode to the exact source samples (lossless has no
     tolerance), and our Annex-H stream must read back through
     ``djpeg`` — pins the restart-anchor and boundary-prediction
     reading against the reference implementation (round 10).
   - ``vp8x-alph`` — needs ``cwebp`` + Pillow: a lossy+alpha encode
     emits a real VP8X/ALPH pair; the ALPH plane (decoded directly,
     independent of the VP8 probability tables) must equal the
     source alpha bit-exactly (cwebp's default alpha_q=100 is
     lossless). Pins our ALPH header/filter/headerless-VP8L reading
     against libwebp's alpha encoder (round 10).
   - ``vp8x-anim`` — needs Pillow (with WebP mux): our 3-frame
     blend/dispose animation must read back frame-exact in Pillow,
     and a Pillow-authored lossless animation must composite
     identically through ``decode_webp_frames`` (round 10).

Exit code: 0 if every ATTEMPTED check passes (env-skips don't fail);
1 on any FAIL; the summary line lists each check's status so a CI
gate can require specific ones.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import _take_flag  # noqa: E402


def _session(extra_conf: dict | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("cluster_smoke")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def smoke_kafka(sf: str, bootstrap: str) -> str:
    """Wire the events fixture through a REAL broker and assert the
    shim-verified stream==batch equivalence holds over format('kafka')."""
    import json
    import uuid

    from pyspark.sql import functions as F

    spark = _session()
    from etl_everywhere_hub_spark.catalog import load_table
    from etl_everywhere_hub_spark.streaming.jobs import tumbling_window_counts

    topic = f"smoke_{uuid.uuid4().hex[:8]}"
    ev = load_table(spark, sf, "events").limit(2000)
    payload = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value", "ts")).alias(
            "value"
        ),
    )
    (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    schema = "event_id long, user_id long, event_type string, value double, ts timestamp"
    back = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j")
    ).select("j.*")
    got = tumbling_window_counts(back.withWatermark("ts", "0 seconds"))
    want = tumbling_window_counts(ev)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    if g != w:
        return f"FAIL kafka: {len(g)} windows vs {len(w)}; first diff " + str(
            next((a, b) for a, b in zip(g, w) if a != b)
        )
    return f"PASS kafka ({len(g)} windows equal over topic {topic})"


def smoke_delta(sf: str) -> str:
    """Replay the CDC fixture through Delta MERGE INTO and assert the
    result equals merge_cdc_sink's snapshot semantics."""
    import tempfile

    from pyspark.sql import functions as F

    spark = _session(
        {
            "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
            "spark.sql.catalog.spark_catalog": (
                "org.apache.spark.sql.delta.catalog.DeltaCatalog"
            ),
        }
    )
    from etl_everywhere_hub_spark.catalog import load_table
    from etl_everywhere_hub_spark.operators.windows import latest_per_key
    from etl_everywhere_hub_spark.streaming.sinks import (
        _merge_cdc_batch,
        read_merge_snapshot,
    )

    ev = load_table(spark, sf, "events").limit(3000)
    cdc = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", "D").otherwise("U").alias("op"),
    )
    batches = [
        cdc.filter(F.col("event_id") % 3 == i).cache() for i in range(3)
    ]
    with tempfile.TemporaryDirectory() as td:
        # parquet twin (the in-container implementation)
        state = os.path.join(td, "pq")
        for i, b in enumerate(batches):
            _merge_cdc_batch(b, i, state, ["user_id"], "ts", "event_id", "op")
        want = sorted(
            map(tuple, read_merge_snapshot(spark, state).select(
                "user_id", "event_id", "value").collect())
        )
        # Delta MERGE twin — the exact statement from _merge_cdc_batch's
        # docstring, one per micro-batch
        dpath = os.path.join(td, "delta")
        spark.sql(
            f"CREATE TABLE delta.`{dpath}` "
            "(user_id LONG, ts TIMESTAMP, event_id LONG, value DOUBLE, op STRING) "
            "USING delta"
        )
        for b in batches:
            newest = latest_per_key(b, ["user_id"], "ts", "event_id")
            newest.createOrReplaceTempView("src")
            spark.sql(
                f"""
                MERGE INTO delta.`{dpath}` t
                USING src s ON t.user_id = s.user_id
                WHEN MATCHED AND (s.ts, s.event_id) > (t.ts, t.event_id)
                    THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
                """
            )
        got = sorted(
            map(tuple, spark.sql(
                f"SELECT user_id, event_id, value FROM delta.`{dpath}` "
                "WHERE op != 'D'").collect())
        )
        if got != want:
            return f"FAIL delta: {len(got)} rows vs parquet twin {len(want)}"
        return f"PASS delta ({len(got)} rows equal to merge_cdc_sink snapshot)"


def _interop_vectors():
    """Fixed deterministic test vectors (seeded — identical on every
    machine, so failures are reproducible by quoting the line)."""
    import numpy as np

    rng = np.random.default_rng(20261)
    yy, xx = np.mgrid[0:48, 0:64]
    grad_gray = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    grad_rgb = np.stack(
        [(xx * 4) % 256, (yy * 5) % 256, (xx + yy) % 256], axis=2
    ).astype(np.uint8)
    noise_rgb = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    gray16 = (
        (yy.astype(np.uint32) * 1021 + xx.astype(np.uint32) * 557) % 65536
    ).astype(np.uint16)
    return grad_gray, grad_rgb, noise_rgb, gray16


def _run(cmd: list[str]) -> bytes:
    import subprocess

    return subprocess.run(cmd, check=True, capture_output=True).stdout


def smoke_codec_interop() -> list[str]:
    """External-encoder interop for the hand-transcribed codec tables
    (module docstring check #4). Every sub-check SKIPs individually on
    a missing tool, so partial environments still verify what they can."""
    import shutil
    import tempfile

    import numpy as np

    out: list[str] = []
    try:
        from PIL import Image  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    jpegtran = shutil.which("jpegtran")
    cwebp = shutil.which("cwebp")
    dwebp = shutil.which("dwebp")

    from etl_everywhere_hub_spark.multimodal import (
        _decode_png,
        decode_image,
        encode_png,
    )
    from etl_everywhere_hub_spark.multimodal.jpeg import encode_jpeg_baseline
    from etl_everywhere_hub_spark.multimodal.webp import (
        decode_vp8l,
        encode_vp8l,
    )

    grad_gray, grad_rgb, noise_rgb, gray16 = _interop_vectors()

    def pil_png_bytes(arr) -> bytes:
        import io

        from PIL import Image

        mode = "I;16" if arr.dtype == np.uint16 else None
        im = Image.fromarray(arr, mode=mode)
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        return buf.getvalue()

    def pil_decode(payload: bytes):
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(payload)))

    # --- png16: foreign 16-bit stream -> our decoder, and reverse ---
    if has_pil:
        try:
            ours = _decode_png(pil_png_bytes(gray16))
            assert ours.dtype == np.uint16 and np.array_equal(ours, gray16), (
                "our 16-bit decode != Pillow-encoded source"
            )
            back = pil_decode(encode_png(gray16, depth=16))
            assert np.array_equal(back.astype(np.uint16), gray16), (
                "Pillow readback != our 16-bit encode"
            )
            out.append("PASS codec-interop/png16 (both directions exact)")
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/png16: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/png16: Pillow absent")

    # --- adam7: our interlaced writer -> foreign unfilterer ---
    if has_pil:
        try:
            for img in (grad_gray, grad_rgb):
                n_rows = sum(
                    ((img.shape[0] - y0 + dy - 1) // dy)
                    for x0, y0, dx, dy in (
                        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
                    )
                    if (img.shape[1] - x0 + dx - 1) // dx > 0
                )
                payload = encode_png(
                    img, interlace=True,
                    row_filters=[y % 5 for y in range(n_rows)],
                )
                back = pil_decode(payload)
                assert np.array_equal(back, img), "Adam7 readback mismatch"
            out.append("PASS codec-interop/adam7 (Pillow readback exact, all filters)")
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/adam7: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/adam7: Pillow absent")

    # --- jpeg: foreign baseline/progressive huffman -> our decoder ---
    if has_pil:
        try:
            import io

            from PIL import Image

            for prog in (False, True):
                buf = io.BytesIO()
                Image.fromarray(grad_rgb).save(
                    buf, format="JPEG", quality=85, progressive=prog
                )
                ours = decode_image(buf.getvalue()).astype(np.int32)
                theirs = pil_decode(buf.getvalue()).astype(np.int32)
                d = int(np.abs(ours - theirs).max())
                assert d <= 3, f"IDCT divergence {d} > 3 (progressive={prog})"
            back = pil_decode(encode_jpeg_baseline(grad_rgb, quality=90))
            d = int(np.abs(back.astype(np.int32) - grad_rgb.astype(np.int32)).max())
            assert d <= 24, f"our-encoder Pillow readback off by {d}"
            out.append("PASS codec-interop/jpeg (huffman both directions, |Δ|≤3 IDCT)")
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/jpeg: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/jpeg: Pillow absent")

    # --- jpeg-arith: libjpeg transcode pins Table D.3 bit-exactly ---
    if jpegtran:
        try:
            with tempfile.TemporaryDirectory() as td:
                base = encode_jpeg_baseline(grad_gray, quality=90)
                src = os.path.join(td, "b.jpg")
                with open(src, "wb") as f:
                    f.write(base)
                want = decode_image(base)
                for extra, label in (
                    ([], "sequential"),
                    (["-progressive"], "progressive"),
                ):
                    arith = _run(
                        [jpegtran, "-arithmetic", *extra, src]
                    )
                    got = decode_image(arith)
                    assert np.array_equal(got, want), (
                        f"{label} arithmetic transcode decode != huffman decode"
                    )
            out.append(
                "PASS codec-interop/jpeg-arith (transcode decodes "
                "bit-identically, sequential + progressive)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/jpeg-arith: {type(e).__name__}: {e}")
    else:
        out.append(
            "SKIP(env) codec-interop/jpeg-arith: jpegtran absent (needs "
            "libjpeg built with arithmetic support)"
        )

    # --- vp8l: cwebp lossless (predictor transform) -> our decoder ---
    if cwebp and has_pil:
        try:
            with tempfile.TemporaryDirectory() as td:
                for i, img in enumerate((grad_rgb, noise_rgb, grad_gray)):
                    rgb = img if img.ndim == 3 else np.stack([img] * 3, 2)
                    src = os.path.join(td, f"v{i}.png")
                    with open(src, "wb") as f:
                        f.write(pil_png_bytes(rgb))
                    dst = os.path.join(td, f"v{i}.webp")
                    # -m 6 = max effort: makes cwebp pick real transform
                    # stacks (predictor modes incl. 11-13 on gradients)
                    _run([cwebp, "-lossless", "-m", "6", "-q", "100",
                          src, "-o", dst])
                    with open(dst, "rb") as f:
                        ours = decode_vp8l(f.read())
                    if ours.ndim == 2:
                        ours = np.stack([ours] * 3, 2)
                    assert np.array_equal(ours[..., :3], rgb), (
                        f"vector {i}: our VP8L decode != source"
                    )
                # reverse: our encoder -> Pillow
                payload = encode_vp8l(grad_rgb)
                back = pil_decode(payload)
                assert np.array_equal(back[..., :3], grad_rgb)
            out.append(
                "PASS codec-interop/vp8l (cwebp -m 6 streams decode exactly; "
                "our streams read back)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/vp8l: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/vp8l: cwebp and/or Pillow absent")

    # --- vp8 lossy: EXPECTED FAIL until the RFC tables are filled in ---
    if cwebp and (dwebp or has_pil):
        try:
            from etl_everywhere_hub_spark.multimodal.vp8 import (
                INTEROP_TABLES_VERIFIED,
            )

            with tempfile.TemporaryDirectory() as td:
                src = os.path.join(td, "l.png")
                with open(src, "wb") as f:
                    f.write(pil_png_bytes(grad_rgb))
                dst = os.path.join(td, "l.webp")
                _run([cwebp, "-q", "80", src, "-o", dst])
                with open(dst, "rb") as f:
                    payload = f.read()
                ours = decode_image(payload).astype(np.int32)
                if dwebp:
                    ppm = os.path.join(td, "l.ppm")
                    _run([dwebp, dst, "-ppm", "-o", ppm])
                    with open(ppm, "rb") as f:
                        theirs = decode_image(f.read()).astype(np.int32)
                else:
                    theirs = pil_decode(payload).astype(np.int32)[..., :3]
                d = int(np.abs(ours - theirs).max())
                assert d <= 1, (
                    f"lossy-VP8 foreign decode off by {d} "
                    f"(INTEROP_TABLES_VERIFIED={INTEROP_TABLES_VERIFIED}: "
                    "the RFC 6386 default_coef_probs/coef_update_probs/"
                    "kf_bmode_prob tables in multimodal/vp8.py are "
                    "placeholders — fill them from the RFC text, flip the "
                    "flag, rerun)"
                )
            out.append("PASS codec-interop/vp8 (lossy foreign stream decodes)")
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/vp8: {type(e).__name__}: {e}")
    else:
        out.append(
            "SKIP(env) codec-interop/vp8: cwebp/dwebp absent (NOTE: will "
            "FAIL until multimodal/vp8.py INTEROP_TABLES_VERIFIED — "
            "placeholder RFC tables desynchronize on foreign streams)"
        )

    # --- jpeg-lossless: libjpeg-turbo >= 3.0 cjpeg/djpeg (round 10) ---
    cjpeg = shutil.which("cjpeg")
    djpeg = shutil.which("djpeg")
    if cjpeg and djpeg:
        try:
            from etl_everywhere_hub_spark.multimodal.jpeg_lossless import (
                encode_jpeg_lossless,
            )

            with tempfile.TemporaryDirectory() as td:
                src = os.path.join(td, "g.pgm")
                with open(src, "wb") as f:
                    f.write(
                        b"P5\n%d %d\n255\n"
                        % (grad_gray.shape[1], grad_gray.shape[0])
                        + grad_gray.tobytes()
                    )
                for psv in (1, 4, 7):
                    try:
                        foreign = _run(
                            [cjpeg, "-lossless", str(psv), src]
                        )
                    except Exception:
                        raise RuntimeError(
                            "cjpeg present but refuses -lossless (needs "
                            "libjpeg-turbo >= 3.0)"
                        ) from None
                    got = decode_image(foreign)
                    assert np.array_equal(got, grad_gray), (
                        f"foreign lossless psv={psv} decode != source"
                    )
                # reverse: our stream -> djpeg
                ours = encode_jpeg_lossless(grad_gray, predictor=4)
                dst = os.path.join(td, "o.jpg")
                with open(dst, "wb") as f:
                    f.write(ours)
                back = decode_image(_run([djpeg, "-pnm", dst]))
                assert np.array_equal(back, grad_gray), (
                    "djpeg readback of our lossless stream != source"
                )
            out.append(
                "PASS codec-interop/jpeg-lossless (foreign psv 1/4/7 decode "
                "exactly; our stream reads back)"
            )
        except RuntimeError as e:
            out.append(f"SKIP(env) codec-interop/jpeg-lossless: {e}")
        except Exception as e:  # noqa: BLE001
            out.append(
                f"FAIL codec-interop/jpeg-lossless: {type(e).__name__}: {e}"
            )
    else:
        out.append(
            "SKIP(env) codec-interop/jpeg-lossless: cjpeg/djpeg absent "
            "(needs libjpeg-turbo >= 3.0 for -lossless)"
        )

    # --- vp8x/alph: foreign ALPH plane decodes exactly (round 10;
    #     alpha rides its own chunk, independent of the VP8 tables) ---
    if cwebp and has_pil:
        try:
            from etl_everywhere_hub_spark.multimodal.webp import (
                _decode_alph,
                _riff_chunks,
                _u24le,
            )

            with tempfile.TemporaryDirectory() as td:
                rng = np.random.default_rng(7)
                rgba = np.dstack(
                    [grad_rgb, rng.integers(0, 256, grad_rgb.shape[:2])]
                ).astype(np.uint8)
                src = os.path.join(td, "a.png")
                Image.fromarray(rgba, "RGBA").save(src)
                dst = os.path.join(td, "a.webp")
                _run([cwebp, "-q", "80", src, "-o", dst])
                with open(dst, "rb") as f:
                    payload = f.read()
                alph = vp8x = None
                for tag, body in _riff_chunks(payload):
                    if tag == b"ALPH":
                        alph = body
                    elif tag == b"VP8X":
                        vp8x = body
                assert alph is not None and vp8x is not None, (
                    "cwebp emitted no VP8X/ALPH (alpha dropped?)"
                )
                w = _u24le(vp8x, 4) + 1
                h = _u24le(vp8x, 7) + 1
                got = _decode_alph(alph, w, h)
                assert np.array_equal(got, rgba[:, :, 3]), (
                    "foreign ALPH plane decode != source alpha "
                    "(default alpha_q=100 is lossless)"
                )
            out.append(
                "PASS codec-interop/vp8x-alph (cwebp ALPH chunk decodes "
                "bit-exactly)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/vp8x-alph: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/vp8x-alph: cwebp/Pillow absent")

    # --- vp8x/anim: our animation reads back in Pillow; a Pillow
    #     lossless animation composites identically in ours ---
    if has_pil:
        try:
            import io

            from etl_everywhere_hub_spark.multimodal.webp import (
                decode_webp_frames,
                encode_webp_anim,
            )

            tiles = [
                np.full((16, 16), 40 * (k + 1), np.uint8) for k in range(3)
            ]
            payload = encode_webp_anim(
                [
                    dict(img=tiles[0], x=0, y=0),
                    dict(img=tiles[1], x=16, y=0, blend=False, dispose=True),
                    dict(img=tiles[2], x=0, y=16),
                ],
                (32, 32),
                bg=(9, 9, 9, 255),
            )
            im = Image.open(io.BytesIO(payload))
            n = getattr(im, "n_frames", 1)
            assert n == 3, f"Pillow sees {n} frames, not 3"
            im.seek(0)
            f0 = np.asarray(im.convert("RGB"))
            assert (f0[0:16, 0:16, 0] == 40).all(), "frame-0 tile mismatch"
            # reverse: Pillow-authored lossless animation -> ours
            frames_pil = [
                Image.fromarray(
                    np.full((32, 32, 3), 50 * (k + 1), np.uint8)
                )
                for k in range(2)
            ]
            buf = io.BytesIO()
            frames_pil[0].save(
                buf, format="WEBP", save_all=True,
                append_images=frames_pil[1:], lossless=True, duration=100,
            )
            ours = decode_webp_frames(buf.getvalue())
            assert len(ours) == 2
            for k, fr in enumerate(ours):
                assert (fr[:, :, 0] == 50 * (k + 1)).all(), (
                    f"frame {k} composite mismatch"
                )
            out.append(
                "PASS codec-interop/vp8x-anim (3-frame stream reads back in "
                "Pillow; Pillow-authored animation composites identically)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/vp8x-anim: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/vp8x-anim: Pillow absent")

    # --- gif: foreign (Pillow) stills + animation -> our decoder,
    #     and our streams read back in Pillow (round 11) ---
    if has_pil:
        try:
            import io

            from etl_everywhere_hub_spark.multimodal.gif import (
                decode_gif,
                decode_gif_frames,
                encode_gif,
                encode_gif_animation,
            )

            # foreign still (paletted gradient), plus Pillow's own
            # interlaced writer against our 4-pass de-interlacer
            for interlace in (False, True):
                buf = io.BytesIO()
                Image.fromarray(grad_gray).convert("P").save(
                    buf, format="GIF", interlace=interlace
                )
                ours = decode_gif(buf.getvalue())
                theirs = np.asarray(
                    Image.open(io.BytesIO(buf.getvalue())).convert("RGB")
                )
                assert np.array_equal(ours, theirs), (
                    f"foreign GIF still (interlace={interlace}) mismatch"
                )
            # our still reads back in Pillow
            back = np.asarray(
                Image.open(io.BytesIO(encode_gif(grad_gray))).convert("L")
            )
            assert np.array_equal(back, grad_gray), "Pillow GIF readback"
            # foreign animation: frame COUNT + first frame (compositing
            # conventions for disposal differ renderer-to-renderer, so
            # only spec-unambiguous properties are compared)
            tiles = [
                Image.fromarray(np.full((16, 16), 60 * (k + 1), np.uint8))
                for k in range(3)
            ]
            buf = io.BytesIO()
            tiles[0].save(
                buf, format="GIF", save_all=True,
                append_images=tiles[1:], duration=50,
            )
            frames = decode_gif_frames(buf.getvalue())
            assert len(frames) == 3, f"{len(frames)} frames, want 3"
            assert (frames[0][:, :, 0] == 60).all(), "frame-0 mismatch"
            # our animation reads back in Pillow frame-exact
            gpal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, 1)
            anim = encode_gif_animation(
                (16, 16),
                [
                    {"indexes": np.full((16, 16), 70, np.uint8)},
                    {"indexes": np.full((8, 8), 140, np.uint8),
                     "left": 4, "top": 4, "disposal": 1},
                ],
                global_palette=gpal,
            )
            im = Image.open(io.BytesIO(anim))
            assert getattr(im, "n_frames", 1) == 2
            im.seek(1)
            f1 = np.asarray(im.convert("L"))
            assert f1[0, 0] == 70 and f1[8, 8] == 140, "anim readback"
            out.append(
                "PASS codec-interop/gif (foreign stills incl. interlace + "
                "animation; ours read back in Pillow)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/gif: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/gif: Pillow absent")

    # --- tiff: foreign (Pillow) raw/packbits/lzw strips -> our
    #     decoder; our streams (both endians) read back (round 11) ---
    if has_pil:
        try:
            import io

            from etl_everywhere_hub_spark.multimodal.tiff import (
                decode_tiff,
                encode_tiff,
            )

            for compression in (None, "packbits", "tiff_lzw"):
                for img in (grad_gray, grad_rgb):
                    buf = io.BytesIO()
                    Image.fromarray(img).save(
                        buf, format="TIFF", compression=compression
                    )
                    ours = decode_tiff(buf.getvalue())
                    assert np.array_equal(ours, img), (
                        f"foreign TIFF ({compression}) mismatch"
                    )
            # foreign 16-bit
            buf = io.BytesIO()
            Image.fromarray(gray16, mode="I;16").save(buf, format="TIFF")
            ours16 = decode_tiff(buf.getvalue())
            assert ours16.dtype == np.uint16 and np.array_equal(
                ours16, gray16
            ), "foreign 16-bit TIFF mismatch"
            # ours read back in Pillow, both endians, all compressions
            for endian in ("<", ">"):
                for comp in ("none", "packbits", "lzw"):
                    payload = encode_tiff(
                        grad_rgb, comp, endian, rows_per_strip=11,
                        predictor=(comp == "lzw"),
                    )
                    back = np.asarray(Image.open(io.BytesIO(payload)))
                    assert np.array_equal(back, grad_rgb), (
                        f"Pillow TIFF readback ({endian}{comp})"
                    )
            out.append(
                "PASS codec-interop/tiff (foreign raw/packbits/lzw + 16-bit; "
                "ours read back both endians)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/tiff: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/tiff: Pillow absent")

    # --- zstd: the reference CLI as foreign encoder AND decoder of
    #     the frame walk + libzstd decode (the deep matrix lives in
    #     tests/test_zstd.py — this is the cluster-environment spot
    #     check) ---
    zstd_cli = shutil.which("zstd")
    if zstd_cli:
        try:
            import subprocess

            from etl_everywhere_hub_spark.multimodal.zstd import (
                zstd_compress,
                zstd_frames,
            )

            payload = (b"cluster smoke zstd payload " * 512) + bytes(
                range(256)
            )
            blob = b"".join(
                subprocess.run(
                    ["zstd", "-q", lvl, "-c"], input=payload,
                    capture_output=True,
                ).stdout
                for lvl in ("-1", "-19")
            )
            frames = zstd_frames(blob)
            assert [f["payload"] for f in frames] == [payload] * 2, "decode"
            assert frames[1]["frame_start"] == frames[0]["frame_end"]
            assert frames[1]["frame_end"] == len(blob), "frame walk"
            ours = zstd_compress(payload, mode="auto")
            r = subprocess.run(
                ["zstd", "-d", "-q", "-c"], input=ours, capture_output=True
            )
            assert r.returncode == 0 and r.stdout == payload, "CLI readback"
            out.append(
                "PASS codec-interop/zstd (CLI levels 1/19 walked and "
                "decoded; our frames accepted by the CLI)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/zstd: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/zstd: zstd CLI absent")

    # --- bzip2: the bzip2 CLI and the cluster Python's libbzip2 as
    #     foreign encoders of the stream/block walk (the deep matrix
    #     lives in tests/test_bzip2.py) ---
    try:
        import bz2 as _bz2
        import subprocess

        from etl_everywhere_hub_spark.multimodal.bzip2 import bzip2_streams

        payload = (b"cluster smoke bzip2 payload " * 512) + bytes(range(256))
        big = bytes(range(256)) * 1200  # > 100 kB: 4 blocks at level 1
        blobs = [_bz2.compress(payload, 9), _bz2.compress(big, 1)]
        bzip2_cli = shutil.which("bzip2")
        if bzip2_cli:
            blobs.append(subprocess.run(
                ["bzip2", "-1", "-c"], input=big, capture_output=True
            ).stdout)
        sts = bzip2_streams(b"".join(blobs))
        assert [st["data"] for st in sts] == [payload, big, big][:len(blobs)]
        assert [st["n_blocks"] for st in sts] == [1, 4, 4][:len(blobs)], (
            "block walk"
        )
        out.append(
            "PASS codec-interop/bzip2 (stdlib libbzip2"
            + (" + CLI -1" if bzip2_cli else "; CLI absent")
            + " streams walked and decoded)"
        )
    except Exception as e:  # noqa: BLE001
        out.append(f"FAIL codec-interop/bzip2: {type(e).__name__}: {e}")

    # --- lz4: the reference CLI as foreign encoder AND decoder
    #     (round 12; deep matrix in tests/test_lz4.py) ---
    lz4_cli = shutil.which("lz4")
    if lz4_cli:
        try:
            import subprocess

            from etl_everywhere_hub_spark.multimodal.lz4 import (
                decompress as lz4_decompress,
            )
            from etl_everywhere_hub_spark.multimodal.lz4 import lz4_compress

            payload = (b"cluster smoke lz4 payload " * 512) + bytes(range(256))
            for lvl in ("-1", "-9"):
                comp = subprocess.run(
                    ["lz4", lvl, "-c"], input=payload, capture_output=True
                ).stdout
                assert lz4_decompress(comp) == payload, f"decode at {lvl}"
            ours = lz4_compress(payload, block_checksum=True)
            r = subprocess.run(
                ["lz4", "-d", "-c"], input=ours, capture_output=True
            )
            assert r.returncode == 0 and r.stdout == payload, "CLI readback"
            out.append(
                "PASS codec-interop/lz4 (CLI levels 1/9 decoded; our "
                "frames accepted by the CLI)"
            )
        except Exception as e:  # noqa: BLE001
            out.append(f"FAIL codec-interop/lz4: {type(e).__name__}: {e}")
    else:
        out.append("SKIP(env) codec-interop/lz4: lz4 CLI absent")

    # --- xz: liblzma (stdlib) + the xz CLI as foreign encoders
    #     (round 12; deep matrix in tests/test_xz.py) ---
    try:
        import lzma as _lzma
        import subprocess

        from etl_everywhere_hub_spark.multimodal.xz import (
            decompress as xz_decompress,
        )

        payload = (b"cluster smoke xz payload " * 512) + bytes(range(256))
        for check in (_lzma.CHECK_CRC32, _lzma.CHECK_CRC64,
                      _lzma.CHECK_SHA256):
            assert xz_decompress(
                _lzma.compress(payload, check=check)
            ) == payload, f"liblzma decode, check {check}"
        xz_cli = shutil.which("xz")
        if xz_cli:
            comp = subprocess.run(
                ["xz", "-c", "-6"], input=payload, capture_output=True
            ).stdout
            assert xz_decompress(comp) == payload, "CLI decode at -6"
            out.append(
                "PASS codec-interop/xz (liblzma all checks + CLI -6 decoded)"
            )
        else:
            out.append(
                "PASS codec-interop/xz (liblzma all checks decoded; "
                "CLI absent)"
            )
    except Exception as e:  # noqa: BLE001
        out.append(f"FAIL codec-interop/xz: {type(e).__name__}: {e}")

    # --- snappy: Spark's own JVM SnappyCodec as the foreign pin,
    #     both directions (round 12; deep matrix in tests/test_snappy.py) ---
    try:
        import glob
        import tempfile

        from pyspark.sql import SparkSession

        from etl_everywhere_hub_spark.multimodal.snappy import (
            hadoop_snappy_compress,
            hadoop_snappy_decompress,
        )

        spark = SparkSession.builder.master("local[2]").getOrCreate()
        d = tempfile.mkdtemp(prefix="smoke_snappy_")
        lines = [f"smoke line {i} payload" for i in range(500)]
        (spark.createDataFrame([(ln,) for ln in lines], "value string")
         .coalesce(1).write.option("compression", "snappy")
         .text(d + "/out"))
        f = glob.glob(d + "/out/*.snappy")[0]
        with open(f, "rb") as fh:
            assert hadoop_snappy_decompress(fh.read()).decode().splitlines() \
                == lines, "JVM->ours"
        os.makedirs(d + "/in")
        with open(d + "/in/part-0.txt.snappy", "wb") as fh:
            fh.write(hadoop_snappy_compress(("\n".join(lines) + "\n").encode()))
        back = [r.value for r in spark.read.text(d + "/in").collect()]
        assert back == lines, "ours->JVM"
        out.append(
            "PASS codec-interop/snappy (Spark JVM codec both directions)"
        )
    except Exception as e:  # noqa: BLE001
        out.append(f"FAIL codec-interop/snappy: {type(e).__name__}: {e}")

    # --- tfrecord: tensorflow is the foreign encoder/decoder this
    # container lacks (multimodal/tfrecord.py pins spec vectors
    # instead); on a TF-provisioned host, both directions over the
    # real library
    try:
        import tensorflow as tf  # noqa: F401

        from etl_everywhere_hub_spark.multimodal.tfrecord import (
            example_decode,
            example_encode,
            tfrecord_records,
            tfrecord_write,
        )

        d = tempfile.mkdtemp(prefix="smoke_tfr_")
        f = d + "/foreign.tfrecord"
        with tf.io.TFRecordWriter(f) as w:
            for i in range(200):
                ex = tf.train.Example(features=tf.train.Features(feature={
                    "i": tf.train.Feature(
                        int64_list=tf.train.Int64List(value=[i, -i])),
                    "b": tf.train.Feature(
                        bytes_list=tf.train.BytesList(
                            value=[b"p%d" % i])),
                }))
                w.write(ex.SerializeToString())
        got = [example_decode(rec)
               for _, rec in tfrecord_records(open(f, "rb").read())]
        assert [g["i"][1] for g in got] == [[i, -i] for i in range(200)]
        ours = d + "/ours.tfrecord"
        with open(ours, "wb") as fh:
            fh.write(tfrecord_write(
                [example_encode({"i": [i]}) for i in range(50)]))
        back = [
            int(tf.train.Example.FromString(r.numpy())
                .features.feature["i"].int64_list.value[0])
            for r in tf.data.TFRecordDataset(ours)
        ]
        assert back == list(range(50)), "ours->TF"
        out.append("PASS codec-interop/tfrecord (tensorflow both "
                   "directions)")
    except ImportError:
        out.append("SKIP(env) codec-interop/tfrecord: tensorflow absent")
    except Exception as e:  # noqa: BLE001
        out.append(f"FAIL codec-interop/tfrecord: {type(e).__name__}: {e}")

    # --- seqfile-zstd: Hadoop's ZStandardCodec needs a native
    # libhadoop built with zstd (absent here — the one SequenceFile
    # codec tests/test_seqfile.py cannot JVM-pin); both directions
    # where the native lib exists
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[2]").getOrCreate()
        jvm = spark._jvm
        if not jvm.org.apache.hadoop.util.NativeCodeLoader \
                .isNativeCodeLoaded():
            raise ImportError("native libhadoop absent")
        from etl_everywhere_hub_spark.multimodal.seqfile import (
            TEXT,
            ZSTD_CODEC,
            seqfile_records,
            seqfile_write,
        )

        sc = spark.sparkContext
        pairs = [("k%03d" % i, "v%d" % i) for i in range(300)]
        d = tempfile.mkdtemp(prefix="smoke_seqzstd_")
        sc.parallelize(pairs, 1).saveAsSequenceFile(
            d + "/jvm", ZSTD_CODEC)
        import glob as _glob

        f = _glob.glob(d + "/jvm/part-*")[0]
        recs = seqfile_records(open(f, "rb").read())
        assert [(k, v) for _, k, v in recs] == pairs, "JVM->ours"
        os.makedirs(d + "/ours")
        with open(d + "/ours/part-00000", "wb") as fh:
            fh.write(seqfile_write(pairs, TEXT, TEXT,
                                   codec=ZSTD_CODEC, block=True,
                                   block_records=100))
        assert sc.sequenceFile(d + "/ours").collect() == pairs, \
            "ours->JVM"
        out.append("PASS codec-interop/seqfile-zstd (Hadoop native "
                   "codec both directions)")
    except ImportError as e:
        out.append(f"SKIP(env) codec-interop/seqfile-zstd: {e}")
    except Exception as e:  # noqa: BLE001
        out.append(
            f"FAIL codec-interop/seqfile-zstd: {type(e).__name__}: {e}")
    return out


def main(argv: list[str]) -> int:
    argv, sf = _take_flag(argv, "--sf")
    argv, bootstrap = _take_flag(argv, "--kafka-bootstrap")
    want_delta = "--delta" in argv
    want_interop = "--codec-interop" in argv
    sf = sf or "/root/testdata/sf0.01"
    results: list[str] = []

    # 1. Kafka
    if bootstrap:
        try:
            results.append(smoke_kafka(sf, bootstrap))
        except Exception as e:  # noqa: BLE001 — smoke harness reports, not raises
            results.append(f"FAIL kafka: {type(e).__name__}: {e}")
    else:
        results.append(
            "SKIP(env) kafka: pass --kafka-bootstrap host:9092 on a "
            "broker-equipped cluster (in-container twin: "
            "sources/kafka_shim.py stream==batch gate, tests green)"
        )

    # 2. Delta
    if want_delta:
        try:
            results.append(smoke_delta(sf))
        except Exception as e:  # noqa: BLE001
            results.append(f"FAIL delta: {type(e).__name__}: {e}")
    else:
        results.append(
            "SKIP(env) delta: pass --delta with delta-spark on the "
            "classpath (in-container twin: streaming/sinks.py "
            "merge_cdc_sink crash matrix, tests green)"
        )

    # 3. codec interop (external encoders vs the transcribed tables)
    if want_interop:
        try:
            results.extend(smoke_codec_interop())
        except Exception as e:  # noqa: BLE001
            results.append(f"FAIL codec-interop: {type(e).__name__}: {e}")
    else:
        results.append(
            "SKIP(env) codec-interop: pass --codec-interop on a host with "
            "Pillow / jpegtran / cwebp (in-container twins: roundtrip + "
            "oracle tests pin the pipelines self-consistently; the "
            "transcribed-table memory risk needs a foreign encoder)"
        )

    print("\n== cluster_smoke summary ==")
    for r in results:
        print(" ", r)
    return 1 if any(r.startswith("FAIL") for r in results) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
