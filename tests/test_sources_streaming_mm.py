"""Sources (§2.1), Structured Streaming surface, multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark import fslock as FL
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import multimodal as MM
from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table
from hannigan_conjunctisviribus_ploscompbio_2017_spark.sources import readers as R
from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming import events as SE

SF0001 = "/root/testdata/sf0.001"


# --- sources ---------------------------------------------------------------


def test_fasta_roundtrip(spark, tmp_path):
    fa = tmp_path / "x.fasta"
    fa.write_text(">c1 extra header\nACGT\nACGT\n>c2\nTTTT\n")
    df = R.read_fasta(spark, str(fa))
    rows = {r.id: r.seq for r in df.collect()}
    assert rows == {"c1": "ACGTACGT", "c2": "TTTT"}
    lens = {r.id: r.length for r in R.fasta_lengths(df).collect()}
    assert lens == {"c1": 8, "c2": 4}


def test_fasta_length_filter(spark, tmp_path):
    fa = tmp_path / "s.fasta"
    fa.write_text(">a\n" + "A" * 10 + "\n>b\n" + "A" * 30 + "\n>c\n" + "A" * 99 + "\n")
    kept = {r.id for r in R.length_filter(R.read_fasta(spark, str(fa)), 20, 65).collect()}
    assert kept == {"b"}


def test_fastq_pair_intersection(spark, tmp_path):
    r1 = tmp_path / "r1.fastq"
    r2 = tmp_path / "r2.fastq"
    r1.write_text("@read1\nACGT\n+\nIIII\n@read2\nACGT\n+\nIIII\n")
    r2.write_text("@read2\nTTTT\n+\nIIII\n@read3\nTTTT\n+\nIIII\n")
    pairs = R.paired_reads(
        R.read_fastq_ids(spark, str(r1)), R.read_fastq_ids(spark, str(r2))
    ).collect()
    assert [r.read_id for r in pairs] == ["read2"]


def test_sam_counts(spark, tmp_path):
    sam = tmp_path / "a.sam"
    sam.write_text(
        "@HD\tVN:1.0\n@SQ\tSN:c1\tLN:100\n"
        "r1\t0\tc1\t1\t60\t4M\t*\t0\t0\tACGT\tIIII\n"
        "r2\t0\tc1\t5\t60\t4M\t*\t0\t0\tACGT\tIIII\n"
        "r3\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII\n"
        "r4\t0\tc2\t1\t60\t4M\t*\t0\t0\tACGT\tIIII\n"
    )
    counts = {r.contig: r["count"] for r in R.sam_contig_counts(spark, str(sam)).collect()}
    assert counts == {"c1": 2, "c2": 1}


def test_genbank_hosts(spark, tmp_path):
    gb = tmp_path / "x.gb"
    gb.write_text(
        "LOCUS x\n  ORGANISM Pseudomonas phage F116\n"
        '  /host="Pseudomonas aeruginosa"\n//\n'
        "LOCUS y\n  ORGANISM Another phage\n//\n"
    )
    rows = {r.organism: r.host for r in R.genbank_phage_hosts(spark, str(gb)).collect()}
    assert rows["Pseudomonas phage F116"] == "Pseudomonas aeruginosa"
    assert rows["Another phage"] is None


def test_embl_records(spark, tmp_path):
    dat = tmp_path / "x.dat"
    dat.write_text(
        "ID   AB12; SV 1; linear\nOS   Some phage\nFT  /host=\"E. coli\"\n//\n"
    )
    rows = R.embl_records(spark, str(dat)).collect()
    assert rows[0].record_id == "AB12" and rows[0].host == "E. coli"


def test_pilercr_spacers(spark, tmp_path):
    # Realistic pilerCR report shape: DETAIL REPORT with two arrays
    # (rulers, column header, data rows, post-ruler consensus row) followed
    # by SUMMARY sections that must be skipped — the exact line-state
    # machine of bin/ExtractSpacers.pl:44-77.
    rpt = tmp_path / "contigs.pilercr"
    rpt.write_text(
        "pilercr v1.06\n\nDETAIL REPORT\n\n\n"
        "Array 1\n>contig_A extra descr\n\n"
        "       Pos  Repeat     %id  Spacer  Left flank    Repeat"
        "                          Spacer\n"
        "==========  ======  ======  ======  ==========    "
        "==============================    ======\n"
        "       141      29   100.0      32  AAGGAATTGA    "
        "GTCGCACCTCATGGGGGCGTGGATTGAAAT    ATCAGTACAAGAACAACGGTTAATACAGAGGG\n"
        "       202      29    96.6      33  GGGTTTACCG    "
        "GTCGCACCTCATGGGGGCGTGGATTGAAAT    CCAGTTTTTGACGTAACGTTTGAATACTTACCA\n"
        "       264      29              32                "
        "GTCGCACCTCATGGGGGCGTGGATTGAAAT\n"
        "==========  ======  ======  ======  ==========    "
        "==============================\n"
        "         3      29              32                "
        "GTCGCACCTCATGGGGGCGTGGATTGAAAT\n\n\n"
        "Array 2\n>contig_B\n\n"
        "       Pos  Repeat     %id  Spacer  Repeat            Spacer\n"
        "==========  ======  ======  ======  ============    ======\n"
        "        10      12   100.0      11  ACGTACGTACGT    GATTACAGATT\n"
        "==========  ======  ======  ======  ============\n"
        "         1      12              11  ACGTACGTACGT\n\n"
        "SUMMARY BY SIMILARITY\n\n"
        "       Pos  Repeat\n==========  ======\n"
        "       141      29\n\n"
        "SUMMARY BY POSITION\n\n>contig_A\n"
        "==========  ======\n       141      29\n"
    )
    rows = sorted(
        map(tuple, R.pilercr_spacers(spark, str(rpt)).collect())
    )
    assert rows == [
        ("contig_A", 1, "ATCAGTACAAGAACAACGGTTAATACAGAGGG"),
        ("contig_A", 2, "CCAGTTTTTGACGTAACGTTTGAATACTTACCA"),
        # third repeat row has no spacer column: the reference's parser
        # emits its last field (the repeat) — bug-compatible by design
        ("contig_A", 3, "GTCGCACCTCATGGGGGCGTGGATTGAAAT"),
        ("contig_B", 1, "GATTACAGATT"),
    ]


def test_tsv_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.LongType())]
    )
    p = tmp_path / "t"
    df = spark.createDataFrame([("x", 1), ("y", 2)], schema)
    R.write_tsv(df, str(p))
    back = R.read_tsv(spark, str(p), schema)
    assert sorted(map(tuple, back.collect())) == [("x", 1), ("y", 2)]


# --- streaming -------------------------------------------------------------


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    """Bounded file-source stream: events table re-written as parquet
    with µs timestamps (streaming file source can't read the NANOS
    parquet either)."""
    d = tmp_path_factory.mktemp("events_stream")
    load_table(spark, SF0001, "events").write.mode("overwrite").parquet(str(d / "pq"))
    return str(d / "pq")


def test_streaming_windowed_counts(spark, event_stream_dir):
    stream = SE.read_event_stream(spark, event_stream_dir)
    assert stream.isStreaming
    agg = SE.windowed_counts(stream, window="1 hour")
    q = SE.run_to_memory(agg, "win_out")
    try:
        got = spark.sql(
            "SELECT SUM(n) AS total FROM win_out"
        ).collect()[0].total
        batch_total = load_table(spark, SF0001, "events").count()
        # append mode only emits windows the watermark has closed; the
        # final (open) window is withheld → total ≤ batch, most emitted
        assert got is not None and got >= batch_total * 0.5
    finally:
        q.stop()


def test_streaming_sessions_match_batch_shape(spark, event_stream_dir):
    stream = SE.read_event_stream(spark, event_stream_dir)
    sess = SE.session_aggregates(stream, gap="30 minutes")
    q = SE.run_to_memory(sess, "sess_out")
    try:
        rows = spark.sql("SELECT * FROM sess_out").collect()
        assert len(rows) > 0
        assert all(r.session_end >= r.session_start for r in rows)
    finally:
        q.stop()


# --- multimodal ------------------------------------------------------------


def test_multimodal_fake_pipeline(spark):
    media = MM.make_fake_media(spark, n=30)
    feats = MM.extract_features(media, dim=8, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same content → same feature
    again = {r.media_id: r.feature for r in MM.extract_features(media, dim=8, fake=True).collect()}
    first = {r.media_id: r.feature for r in rows}
    assert first == again


def test_multimodal_real_decode_images_and_audio(spark):
    # PPM and WAV decode for REAL (pure numpy) — no fake flag needed
    media = MM.make_fake_media(spark, n=30).filter(F.col("kind") != "video")
    rows = MM.extract_features(media, dim=8, fake=False).collect()
    assert len(rows) == 20
    by_kind = {r.media_id: r for r in rows}
    metas = {r.media_id: r for r in media.collect()}
    for mid, r in by_kind.items():
        m = metas[mid]
        if m.kind == "image":
            assert r.codec == "ppm"
            # feature head = [w, h, channels, mean, std]
            assert r.feature[0] == m.width and r.feature[1] == m.height
            assert r.feature[2] == 3.0
            assert 0.0 <= r.feature[3] <= 1.0
        else:
            assert r.codec == "wav"
            assert r.feature[0] == 8000.0  # sample rate recovered from header


def test_multimodal_compressed_codec_is_stubbed(spark):
    # mp4 has no pure-python decode: honest NotImplementedError unless fake
    media = MM.make_fake_media(spark, n=30).filter(F.col("kind") == "video")
    with pytest.raises(Exception) as exc_info:
        MM.extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )
    rows = MM.extract_features(media, dim=8, fake=True).collect()
    assert all(r.codec == "mp4" for r in rows)


def test_ppm_roundtrip_exact():
    import numpy as np

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (MM.decode_ppm(MM.encode_ppm(img)) == img).all()
    # header comments + multi-whitespace are legal netpbm
    raw = b"P6\n# comment\n 3\t2\n255\n" + img.tobytes()
    assert (MM.decode_ppm(raw) == img).all()


def test_bmp_decode_exact():
    import struct

    import numpy as np

    # hand-build a 2x2 24-bit BMP: bottom-up BGR rows padded to 4 bytes
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )  # RGB, top row first
    rows = b""
    for r in px[::-1]:  # bottom-up
        row = b"".join(bytes([b, g, rr]) for rr, g, b in r)  # BGR
        rows += row + b"\x00" * ((4 - len(row) % 4) % 4)
    header = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    assert (MM.decode_bmp(header + rows) == px).all()


def _encode_png(px, ctype, filters, plte=None):
    """Minimal in-test PNG encoder: 8-bit, non-interlaced, one explicit
    filter type per row (applies the spec filter so the decoder's
    unfilter path is exercised for real)."""
    import struct
    import zlib

    import numpy as np

    def chunk(cid, body):
        return (
            struct.pack(">I", len(body))
            + cid
            + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * ch).astype(np.int32)
    bpp = ch
    raw = b""
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        f = filters[y % len(filters)]
        if f == 0:
            enc = cur
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            enc = (cur - left) & 0xFF
        elif f == 2:  # Up
            enc = (cur - prev) & 0xFF
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            enc = cur.copy()
            for x in range(w * ch):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte.astype(np.uint8).ravel()))
    out += chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    return out


def test_png_decode_all_filters_exact():
    import numpy as np

    rng = np.random.default_rng(7)
    # RGB image tall enough that every filter type (0..4) hits some row
    px = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    raw = _encode_png(px, ctype=2, filters=[0, 1, 2, 3, 4])
    assert MM.sniff_codec(raw) == "png"
    assert (MM.decode_png(raw) == px).all()
    # grayscale with Paeth-only rows
    g = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    assert (MM.decode_png(_encode_png(g, ctype=0, filters=[4]))[:, :, 0] == g).all()
    # RGBA keeps 4 channels
    a = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    assert MM.decode_png(_encode_png(a, ctype=6, filters=[1, 3])).shape == (4, 4, 4)


def test_png_palette_and_rejects():
    import struct
    import zlib

    import numpy as np
    import pytest

    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    img = MM.decode_png(_encode_png(idx, ctype=3, filters=[0], plte=plte))
    assert (img == plte[idx]).all()
    # 16-bit depth and interlace must raise (documented boundary)
    def chunk(cid, body):
        return (
            struct.pack(">I", len(body)) + cid + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    deep = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 26)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="8-bit"):
        MM.decode_png(deep)
    adam = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 14)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlaced"):
        MM.decode_png(adam)
    # decode_feature routes PNG through the real decoder now
    px = np.zeros((3, 3, 3), dtype=np.uint8)
    codec, vec = MM.decode_feature(_encode_png(px, 2, [0]), dim=16, fake=False)
    assert codec == "png" and len(vec) == 16
    assert vec[0] == 3.0 and vec[1] == 3.0 and vec[2] == 3.0  # w, h, ch


def _encode_jpeg(img, subsample=(1, 1), restart_interval=0):
    """Minimal in-test baseline JPEG encoder (quant all-ones, standard
    Annex K Huffman tables): grayscale (HxW) or RGB (HxWx3). `subsample`
    is the chroma (h, v) divisor — (2, 2) = 4:2:0. `restart_interval`
    > 0 emits a DRI segment and RSTn markers every N MCUs (byte-aligned,
    DC predictors reset) — exercises the decoder's restart path."""
    import struct

    import numpy as np

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import multimodal as M

    # Annex K tables (public spec constants)
    DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
    AC_LUM_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    AC_LUM_SYMS = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]

    def enc_table(counts, syms):
        # symbol -> (code, length), canonical
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                out[syms[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_tbl = enc_table(*DC_LUM)
    ac_tbl = enc_table(AC_LUM_COUNTS, AC_LUM_SYMS)

    bits = []
    payload = bytearray()

    def put(code, length):
        for i in range(length - 1, -1, -1):
            bits.append((code >> i) & 1)

    def flush_bits():
        # pad to byte with 1s (spec), drain into payload with FF00 stuffing
        while len(bits) % 8:
            bits.append(1)
        for i in range(0, len(bits), 8):
            b = 0
            for j in range(8):
                b = (b << 1) | bits[i + j]
            payload.append(b)
            if b == 0xFF:
                payload.append(0x00)
        bits.clear()

    def category(v):
        a, t = abs(v), 0
        while a:
            a >>= 1
            t += 1
        return t

    def put_val(v):
        t = category(v)
        if v < 0:
            v = v + (1 << t) - 1
        return t, v

    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
        sh, sv = subsample
        def ds(p):
            if sh == 1 and sv == 1:
                return p
            hh = (p.shape[0] + sv - 1) // sv * sv
            ww = (p.shape[1] + sh - 1) // sh * sh
            pp = np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])), mode="edge")
            return pp.reshape(hh // sv, sv, ww // sh, sh).mean(axis=(1, 3))
        planes = [y, ds(cb), ds(cr)]
        samp = [(sh, sv), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    padded = []
    for p, (hs, vs) in zip(planes, samp):
        ph, pw = mcus_y * vs * 8, mcus_x * hs * 8
        padded.append(
            np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        )
    C = M._DCT_C
    pred = [0] * len(planes)
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                flush_bits()
                payload.extend(bytes([0xFF, 0xD0 + rst_n]))
                rst_n = (rst_n + 1) % 8
                pred = [0] * len(planes)
            mcu_count += 1
            for ci, (p, (hs, vs)) in enumerate(zip(padded, samp)):
                for by in range(vs):
                    for bx in range(hs):
                        y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                        blk = p[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coef = C @ blk @ C.T
                        zz = np.round(coef.reshape(64)[M._ZIGZAG]).astype(int)
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        t, v = put_val(diff)
                        c, ln = dc_tbl[t]
                        put(c, ln)
                        put(v, t)
                        run = 0
                        for k in range(1, 64):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run > 15:
                                c, ln = ac_tbl[0xF0]
                                put(c, ln)
                                run -= 16
                            t, v = put_val(int(zz[k]))
                            c, ln = ac_tbl[(run << 4) | t]
                            put(c, ln)
                            put(v, t)
                            run = 0
                        if run:
                            c, ln = ac_tbl[0x00]
                            put(c, ln)
    flush_bits()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # quant table 0: all ones
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(DC_LUM[0]) + bytes(DC_LUM[1]))
    out += seg(
        0xC4, bytes([0x10]) + bytes(AC_LUM_COUNTS) + bytes(AC_LUM_SYMS)
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc]) + b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bytes(payload) + b"\xff\xd9"
    return out


def test_jpeg_decode_grayscale_and_rgb():
    import numpy as np

    rng = np.random.default_rng(11)
    # flat gray block: DC-only, must round-trip exactly
    flat = np.full((8, 8), 130, dtype=np.uint8)
    out = MM.decode_jpeg(_encode_jpeg(flat))
    assert out.shape == (8, 8, 1)
    assert int(np.abs(out[:, :, 0].astype(int) - 130).max()) <= 1
    # smooth gradient 16x16 grayscale: quant=1 round-trip within rounding
    grad = np.add.outer(np.arange(16) * 8, np.arange(16) * 4).astype(np.uint8)
    out = MM.decode_jpeg(_encode_jpeg(grad))
    assert int(np.abs(out[:, :, 0].astype(int) - grad.astype(int)).max()) <= 3
    # random RGB 4:4:4 — colorspace round-trip dominates the error
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    out = MM.decode_jpeg(_encode_jpeg(img))
    assert out.shape == (16, 24, 3)
    assert float(np.abs(out.astype(int) - img.astype(int)).mean()) < 4.0
    assert MM.sniff_codec(_encode_jpeg(img)) == "jpeg"


def test_jpeg_restart_intervals_and_scan_boundaries():
    import struct

    import numpy as np
    import pytest

    rng = np.random.default_rng(23)
    # DRI every 2 MCUs over a 4x2-MCU grayscale image: RST markers,
    # byte alignment, and DC-predictor resets must all round-trip
    grad = rng.integers(0, 256, size=(16, 32), dtype=np.uint8)
    raw = _encode_jpeg(grad, restart_interval=2)
    assert b"\xff\xdd" in raw and b"\xff\xd0" in raw  # DRI + RST0 present
    out = MM.decode_jpeg(raw)
    assert int(np.abs(out[:, :, 0].astype(int) - grad.astype(int)).max()) <= 3
    # ... and with an interval that doesn't divide the MCU count
    raw3 = _encode_jpeg(grad, restart_interval=3)
    out3 = MM.decode_jpeg(raw3)
    assert int(np.abs(out3[:, :, 0].astype(int) - grad.astype(int)).max()) <= 3
    # single-component scan ignores SOF sampling factors (T.81 A.2.2):
    # patch the SOF of a grayscale file to claim 2x2 — decode unchanged
    raw = bytearray(_encode_jpeg(grad))
    i = raw.find(b"\xff\xc0")
    assert raw[i + 11] == 0x11
    raw[i + 11] = 0x22  # h=2, v=2 sampling for the only component
    out = MM.decode_jpeg(bytes(raw))
    assert int(np.abs(out[:, :, 0].astype(int) - grad.astype(int)).max()) <= 3
    # a second SOS must raise, not silently overwrite scan state
    raw = bytearray(_encode_jpeg(grad))
    j = raw.find(b"\xff\xda")
    sos_seg = bytes(raw[j : j + 2 + struct.unpack_from(">H", raw, j + 2)[0]])
    doubled = bytes(raw[: j]) + sos_seg + bytes(raw[j:])
    with pytest.raises(ValueError, match="multi-scan"):
        MM.decode_jpeg(doubled)


def test_jpeg_420_subsampling_and_feature_route():
    import numpy as np

    # flat color: chroma subsampling is lossless on constant chroma
    img = np.zeros((20, 18, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 180, 90, 40
    out = MM.decode_jpeg(_encode_jpeg(img, subsample=(2, 2)))
    assert out.shape == (20, 18, 3)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 2
    # decode_feature routes JPEG through the real decoder now (no fake)
    codec, vec = MM.decode_feature(_encode_jpeg(img), dim=16, fake=False)
    assert codec == "jpeg" and len(vec) == 16
    assert vec[0] == 18.0 and vec[1] == 20.0 and vec[2] == 3.0


def test_wav_roundtrip_rms():
    import numpy as np

    t = np.arange(8000, dtype=np.float32) / 8000.0
    x = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    sr, y = MM.decode_wav(MM.encode_wav(x, 8000))
    assert sr == 8000 and len(y) == 8000
    assert abs(float(np.sqrt((y**2).mean())) - 0.5 / np.sqrt(2)) < 1e-3


def test_blob_stats_jvm_side(spark):
    import hashlib

    media = MM.make_fake_media(spark, n=9)
    stats = {r.id: r for r in MM.blob_stats(media).collect()}
    for row in media.collect():
        s = stats[row.media_id]
        assert s.n_bytes == len(row.content)
        assert s.content_sha256 == hashlib.sha256(bytes(row.content)).hexdigest()
        # blob_stats has full sniff_codec parity: mp4 magic detected
        expect = {"image": "ppm", "audio": "wav", "video": "mp4"}[row.kind]
        assert s.codec == expect


def test_multimodal_metadata_prunes_blob(spark):
    media = MM.make_fake_media(spark, n=30)
    stats = MM.media_metadata_stats(media)
    assert stats.count() == 3  # image/audio/video
    # blob column absent from the aggregation plan
    assert "content" not in stats.columns


def test_frame_sample_plan(spark):
    media = MM.make_fake_media(spark, n=30)
    frames = MM.frame_sample_plan(media, every_ms=1000)
    rows = frames.collect()
    assert len(rows) > 0
    per_video = frames.groupBy("media_id").count().collect()
    durations = {r.media_id: r.duration_ms for r in media.filter(F.col("kind") == "video").collect()}
    for r in per_video:
        assert r["count"] == max(durations[r.media_id] // 1000, 1)


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: the first batch claims a
    key; a duplicate arriving in a LATER micro-batch must be suppressed by
    the per-key state, not re-emitted."""
    import time as _time
    from datetime import datetime

    src = tmp_path / "dedup_stream"

    def ev(eid, minute, props):
        return (eid, datetime(2025, 1, 1, 12, minute), 10 + eid, "doc", 1.0, props)

    batch1 = spark.createDataFrame(
        [ev(1, 0, "fpA"), ev(2, 1, "fpA"), ev(3, 2, "fpB")], SE.EVENTS_SCHEMA
    )
    batch2 = spark.createDataFrame(
        [ev(4, 10, "fpA"), ev(5, 11, "fpC")], SE.EVENTS_SCHEMA
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)  # distinct mod-times → file source preserves order
    batch2.coalesce(1).write.mode("append").parquet(str(src))

    stream = SE.read_event_stream(spark, str(src), max_files_per_trigger=1)
    out = SE.streaming_first_seen(stream, key_col="props")
    q = SE.run_to_memory(out, "first_seen_out")
    try:
        rows = {r.key: r for r in spark.sql("SELECT * FROM first_seen_out").collect()}
        assert set(rows) == {"fpA", "fpB", "fpC"}
        a = rows["fpA"]
        # first occurrence wins; the batch-2 duplicate (event 4) was
        # dropped by state, so n_dups only counts the batch-1 sibling
        assert a.first_event_id == 1 and a.n_dups == 1
        assert rows["fpB"].first_event_id == 3 and rows["fpB"].n_dups == 0
        assert rows["fpC"].first_event_id == 5 and rows["fpC"].n_dups == 0
    finally:
        q.stop()


def test_incremental_edge_upsert_folds_all_batches(spark, tmp_path):
    """Regression: every micro-batch's deltas must survive compaction
    (the first implementation dropped all but the last batch)."""
    src = tmp_path / "edges_stream"
    src.mkdir()
    df1 = spark.createDataFrame([("a", "x", 1), ("b", "y", 2)], "src string, dst string, abundance long")
    df2 = spark.createDataFrame([("a", "x", 10), ("c", "z", 5)], "src string, dst string, abundance long")
    df1.coalesce(1).write.mode("append").parquet(str(src))
    df2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.format("parquet")
        .schema("src string, dst string, abundance long")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .load(str(src))
    )
    q = SE.incremental_edge_upsert(stream, str(tmp_path / "store"), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    out = {(r.src, r.dst): r.abundance
           for r in SE.read_incremental_edges(spark, str(tmp_path / "store")).collect()}
    assert out == {("a", "x"): 11, ("b", "y"): 2, ("c", "z"): 5}


# --- chunk-aligned splitters -------------------------------------------------


def _write_fastq(path, n=40, seed=7):
    import random

    rng = random.Random(seed)
    recs = []
    with open(path, "w") as fh:
        for i in range(n):
            rid = f"read{i}/1"
            seq = "".join(rng.choice("ACGT") for _ in range(rng.randint(5, 30)))
            # quality deliberately often starts with '@' or '+': the
            # ambiguity the aligner must survive
            qual = rng.choice("@+ABCDEF") + "".join(
                chr(33 + rng.randint(0, 40)) for _ in range(len(seq) - 1)
            )
            fh.write(f"@{rid} extra meta\n{seq}\n+\n{qual}\n")
            recs.append((rid, seq, qual))
    return recs


def _write_fasta(path, n=25, seed=11):
    import random

    rng = random.Random(seed)
    recs = []
    with open(path, "w") as fh:
        for i in range(n):
            rid = f"contig{i}"
            seq = "".join(rng.choice("ACGT") for _ in range(rng.randint(10, 200)))
            fh.write(f">{rid} desc\n")
            # multi-line records: wrap at 37
            for j in range(0, len(seq), 37):
                fh.write(seq[j : j + 37] + "\n")
            recs.append((rid, seq))
    return recs


def test_fastq_parallel_chunk_invariant(spark, tmp_path):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.sources import readers as R

    p = tmp_path / "big.fastq"
    recs = _write_fastq(str(p))
    expect = {(r[0], r[1], r[2]) for r in recs}
    # sweep chunk sizes incl. sizes that land boundaries mid-record and
    # exactly on record starts; results must be identical regardless
    for cb in (37, 64, 128, 101, 4096, 10**9):
        got = {
            (r.read_id, r.seq, r.qual)
            for r in R.read_fastq_parallel(spark, str(p), chunk_bytes=cb).collect()
        }
        assert got == expect, f"chunk_bytes={cb}"


def test_fastq_parallel_boundary_exact_on_header(spark, tmp_path):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.sources import readers as R

    # craft records with FIXED byte length so a chunk boundary falls
    # exactly on a header's first byte (the ownership corner case)
    p = tmp_path / "exact.fastq"
    with open(p, "w") as fh:
        for i in range(20):
            fh.write(f"@r{i:03d}\nACGTACGT\n+\n!!!!!!!!\n")  # 26 bytes each
    for cb in (26, 52, 13):
        got = sorted(
            r.read_id for r in R.read_fastq_parallel(spark, str(p), chunk_bytes=cb).collect()
        )
        assert got == [f"r{i:03d}" for i in range(20)], f"chunk_bytes={cb}"


def test_fasta_parallel_matches_per_file_reader(spark, tmp_path):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.sources import readers as R

    p = tmp_path / "big.fasta"
    recs = _write_fasta(str(p))
    expect = set(recs)
    baseline = {
        (r.id, r.seq) for r in R.read_fasta(spark, str(p)).collect()
    }
    assert baseline == expect
    for cb in (53, 128, 997, 10**9):
        got = {
            (r.id, r.seq)
            for r in R.read_fasta_parallel(spark, str(p), chunk_bytes=cb).collect()
        }
        assert got == expect, f"chunk_bytes={cb}"


def test_fasta_parallel_boundary_exact_on_header(spark, tmp_path):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.sources import readers as R

    p = tmp_path / "exact.fasta"
    with open(p, "w") as fh:
        for i in range(12):
            fh.write(f">c{i:02d}\nAAAATTTT\n")  # 14 bytes each
    for cb in (14, 28, 7):
        got = sorted(r.id for r in R.read_fasta_parallel(spark, str(p), chunk_bytes=cb).collect())
        assert got == [f"c{i:02d}" for i in range(12)], f"chunk_bytes={cb}"


def test_parallel_readers_multi_file_dir(spark, tmp_path):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.sources import readers as R

    d = tmp_path / "fq"
    d.mkdir()
    all_recs = []
    for k in range(3):
        all_recs += _write_fastq(str(d / f"s{k}.fastq"), n=10, seed=k)
    got = {r.read_id for r in R.read_fastq_parallel(spark, str(d), chunk_bytes=64).collect()}
    assert got == {r[0] for r in all_recs}


def test_minhash_sig_cols_match_batch_signatures(spark):
    # the per-row scalar signature must equal the explode+groupBy batch
    # signature hash-for-hash (same family, same coefficients)
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox jumps over the lazy cat"),
        ],
        "doc_id long, text string",
    )
    batch = {
        r.id: list(r.sig)
        for r in minhash_signatures(docs, num_hashes=16, seed=42).collect()
    }
    scalar = {
        r.doc_id: [r[f"h{j}"] for j in range(16)]
        for r in docs.select(
            "doc_id", *SE.minhash_sig_cols("text", k=3, num_hashes=16, seed=42)
        ).collect()
    }
    assert batch == {str(k): v for k, v in scalar.items()} or batch == scalar


def test_streaming_near_dup_candidates_across_batches(spark, tmp_path):
    """Streaming LSH: a near-duplicate arriving in a LATER micro-batch
    must pair with the earlier document via bucket state; unrelated
    documents must not pair."""
    import time as _time
    from datetime import datetime

    src = tmp_path / "neardup_stream"
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about sparkling distributed engines"

    def ev(eid, minute, text):
        return (eid, datetime(2025, 1, 1, 12, minute), 10 + eid, "doc", 1.0, text)

    batch1 = spark.createDataFrame([ev(1, 0, text_a), ev(2, 1, text_b)], SE.EVENTS_SCHEMA)
    batch2 = spark.createDataFrame([ev(3, 10, text_a)], SE.EVENTS_SCHEMA)
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    batch2.coalesce(1).write.mode("append").parquet(str(src))

    stream = SE.read_event_stream(spark, str(src), max_files_per_trigger=1)
    out = SE.streaming_near_dup_candidates(stream, text_col="props")
    q = SE.run_to_memory(out, "neardup_out")
    try:
        rows = spark.sql("SELECT * FROM neardup_out").collect()
        pairs = {(r.doc_id, r.candidate_id) for r in rows}
        assert (3, 1) in pairs  # cross-batch near-dup found via state
        assert all(p in {(3, 1)} for p in pairs), pairs  # no false pairs
    finally:
        q.stop()


def test_cdhit_clusters(spark, tmp_path):
    clstr = tmp_path / "x.clstr"
    clstr.write_text(
        ">Cluster 0\n"
        "0\t2799aa, >1|sp|P1;_Escherichia_|_prot1... *\n"
        "1\t2799aa, >2|sp|P2;_Shigella_|_prot2... at 99.96%\n"
        ">Cluster 1\n"
        "0\t188nt, >contig_77... *\n"
        "1\t180nt, >contig_78... at +/95.00%\n"
    )
    rows = {(r.cluster, r.member_idx): r for r in R.cdhit_clusters(spark, str(clstr)).collect()}
    assert len(rows) == 4
    rep = rows[("Cluster_0", 0)]
    assert rep.is_rep and rep.percent_id is None and rep.length == 2799
    m = rows[("Cluster_0", 1)]
    assert not m.is_rep and m.percent_id == 99.96 and m.member.startswith("2|sp|P2")
    est = rows[("Cluster_1", 1)]
    assert est.length == 180 and est.percent_id == 95.0


def test_streaming_chunk_first_seen_across_batches(spark, tmp_path):
    """Streaming passage dedup: a 4-token chunk first seen in batch 1
    must suppress the same chunk arriving inside a DIFFERENT doc in a
    later micro-batch; fresh chunks in batch 2 still emit."""
    import time as _time
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "doc_stream"
    b1 = spark.createDataFrame(
        [(datetime(2025, 1, 1, 12, 0), 1, "a b c d e f g h")], schema
    )
    # doc 2 repeats doc 1's first chunk ("a b c d") and adds a fresh one
    b2 = spark.createDataFrame(
        [(datetime(2025, 1, 1, 12, 10), 2, "a b c d x y z w")], schema
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    b2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = SE.streaming_chunk_first_seen(stream, chunk_tokens=4)
    q = SE.run_to_memory(out, "chunk_first_seen_out")
    try:
        rows = {
            (r.first_doc_id, r.first_chunk_idx): r
            for r in spark.sql("SELECT * FROM chunk_first_seen_out").collect()
        }
        # batch-1 chunks: (1,1)="a b c d", (1,2)="e f g h"; batch-2
        # fresh chunk: (2,2)="x y z w". The repeat of "a b c d" in doc 2
        # must NOT appear as a new fingerprint owner.
        assert set(rows) == {(1, 1), (1, 2), (2, 2)}
        assert all(r.n_dups == 0 for r in rows.values())
    finally:
        q.stop()


def test_streaming_quality_router_splits_keep_and_quarantine(spark, tmp_path):
    """foreachBatch quality routing: clean docs land in the corpus store,
    rejects land in quarantine with their reasons — across micro-batches,
    nothing lost."""
    import time as _time

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    src = tmp_path / "router_src"
    b1 = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a hat and a bat for fun", "en"),
            (2, "tiny", "en"),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, " ".join(["w"] * 30), "zh")], schema
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    b2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    keep, quar, ckpt = (str(tmp_path / d) for d in ("keep", "quarantine", "ckpt"))
    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    q = SE.streaming_quality_router(
        stream, keep, quar, ckpt,
        min_tokens=5, max_tokens=100, min_quality=0.2, allowed_langs=["en"],
    )
    try:
        q.processAllAvailable()
        kept = {r.doc_id for r in spark.read.parquet(keep).collect()}
        rej = {r.doc_id: r.reject_reasons for r in spark.read.parquet(quar).collect()}
        assert kept == {1}
        assert set(rej) == {2, 3}
        assert "too_short" in rej[2] and "lang" in rej[3]
        # each epoch's scored checkpoint must be RELEASED after its two
        # writes — a long-running ingest would otherwise pin one
        # batch-sized frame per epoch until a GC-timed cleaner pass
        assert (
            spark.sparkContext._jsc.getPersistentRDDs().size()
            == persisted_before
        ), "router leaked per-epoch checkpoint blocks"
    finally:
        q.stop()


def test_resize_images_roundtrip_and_passthrough(spark):
    """resize_images: real PPM blobs come back as (8, 8) PPMs that the
    real decoder reproduces via the same nearest-neighbor index map;
    undecodable blobs (mp4 stub) pass through untouched with resized=0."""
    import numpy as np

    media = MM.make_fake_media(spark, n=12)
    out = MM.resize_images(media, 8, 8).collect()
    src = {r.media_id: bytes(r.content) for r in media.collect()}
    n_img = n_other = 0
    for r in out:
        if r.resized == 1:
            n_img += 1
            img = MM.decode_ppm(bytes(r.content))
            assert img.shape == (8, 8, 3)
            expected = MM.resize_image(MM.decode_ppm(src[r.media_id]), 8, 8)
            assert np.array_equal(img, expected)
        else:
            n_other += 1
            assert bytes(r.content) == src[r.media_id]  # nothing lost
    assert n_img == 4 and n_other == 8  # 12 rows: 4 images, 4 wav, 4 mp4


def test_streaming_sequence_pack_parity_and_continuation(spark, tmp_path):
    """Single-batch bounded run must reproduce batch sequence_pack
    bit-for-bit (same md5 order, same budget math); a second micro-batch
    must CONTINUE each bucket's running token total, not restart it."""
    import time as _time

    from pyspark.sql import types as T

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import sequence_pack

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows1 = [(i, "tok " * (3 + i % 5)) for i in range(40)]
    rows2 = [(i, "tok " * (3 + i % 5)) for i in range(40, 60)]
    src = tmp_path / "pack_stream"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = SE.streaming_sequence_pack(stream, budget=32, n_buckets=4)
    q = SE.run_to_memory(out, "seq_pack_out")
    try:
        got1 = {
            r.id: (r.bucket, r.n_tok, r.pack_id, r.pack_offset)
            for r in spark.sql("SELECT * FROM seq_pack_out").collect()
        }
        batch1 = {
            r.id: (r.bucket, r.n_tok, r.pack_id, r.pack_offset)
            for r in sequence_pack(
                spark.createDataFrame(rows1, schema), budget=32, n_buckets=4
            ).collect()
        }
        assert got1 == batch1  # single-batch == batch operator, exactly

        # second micro-batch: totals continue, never reset
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        q.processAllAvailable()
        got2 = {
            r.id: (r.bucket, r.n_tok, r.pack_id, r.pack_offset)
            for r in spark.sql("SELECT * FROM seq_pack_out").collect()
        }
        assert len(got2) == 60
        # per bucket: batch-2 start offsets resume from batch-1 totals
        bucket_tot = {}
        for i in range(40):
            b, n_tok, _, _ = got1[i]
            bucket_tot[b] = bucket_tot.get(b, 0) + n_tok
        new_per_bucket = {}
        for i in range(40, 60):
            b, n_tok, pid, off = got2[i]
            new_per_bucket.setdefault(b, []).append((pid * 32 + off, n_tok))
        for b, entries in new_per_bucket.items():
            start = bucket_tot.get(b, 0)
            for pos, n_tok in sorted(entries):
                assert pos == start  # continues the cross-batch cumsum
                start += n_tok
    finally:
        q.stop()


def test_mp4_metadata_real_box_parsing(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import multimodal as M

    # roundtrip: encoder → parser, v0 mvhd, multiple tracks
    b = M.encode_minimal_mp4(duration_ms=12345, timescale=600, handlers=("vide", "soun"))
    assert M.sniff_codec(b) == "mp4"
    m = M.mp4_metadata(b)
    assert m["brand"] == "isom" and m["duration_ms"] == 12345
    assert m["n_tracks"] == 2 and m["handlers"] == ["vide", "soun"]
    # truncated/garbage blobs parse to empty metadata, never raise
    assert M.mp4_metadata(b[:10])["duration_ms"] is None
    assert M.mp4_metadata(b"nonsense")["n_tracks"] == 0
    # malformed-but-sniffable boxes: empty mvhd payload, short mvhd
    # payload, short hdlr — all yield None/empty fields, never an
    # IndexError/struct.error (one corrupt blob must not kill a task)
    import struct as _s

    def _box(t, p):
        return _s.pack(">I", 8 + len(p)) + t + p

    ftyp = _box(b"ftyp", b"isom" + _s.pack(">I", 512))
    for bad_payload in (b"", b"\x00\x00\x00", b"\x00" * 10, b"\x01" + b"\x00" * 6):
        blob = ftyp + _box(b"moov", _box(b"mvhd", bad_payload))
        m = M.mp4_metadata(blob)
        assert m["duration_ms"] is None and m["timescale"] is None
    short_hdlr = ftyp + _box(
        b"moov", _box(b"trak", _box(b"mdia", _box(b"hdlr", b"\x00" * 9)))
    )
    m = M.mp4_metadata(short_hdlr)
    assert m["n_tracks"] == 1 and m["handlers"] == []

    # DataFrame path: content-derived duration feeds frame sampling
    rows = [
        (1, bytearray(M.encode_minimal_mp4(duration_ms=3000))),
        (2, bytearray(M.encode_minimal_mp4(duration_ms=500))),
        (3, bytearray(b"not a video at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    meta = {r.media_id: r for r in M.video_metadata(df).collect()}
    assert meta[1].duration_ms == 3000 and meta[1].handlers == "vide"
    assert meta[2].duration_ms == 500
    assert meta[3].duration_ms is None and meta[3].brand is None

    # plumb into frame_sample_plan: 3000ms @1000ms → 3 frames
    from pyspark.sql import functions as F

    plan = M.frame_sample_plan(
        M.video_metadata(df)
        .filter(F.col("duration_ms").isNotNull())
        .withColumn("kind", F.lit("video")),
        every_ms=1000,
    )
    got = sorted((r.media_id, r.frame_ts_ms) for r in plan.collect())
    assert got == [(1, 0), (1, 1000), (1, 2000), (2, 0)]


def test_multimodal_corrupt_blob_robustness(spark):
    import struct as _s

    import numpy as np

    # 1. truncated mvhd payloads in the 16-19 / 28-31 byte windows that
    # pass a first-byte check but not the full field width
    def _box(t, p):
        return _s.pack(">I", 8 + len(p)) + t + p

    ftyp = _box(b"ftyp", b"isom" + _s.pack(">I", 512))
    for payload in (b"\x00" * 16, b"\x00" * 19, b"\x01" + b"\x00" * 27, b"\x01" + b"\x00" * 30):
        m = MM.mp4_metadata(ftyp + _box(b"moov", _box(b"mvhd", payload)))
        assert m["duration_ms"] is None  # short payload: no field, no crash

    # 2. grayscale PGM resize must re-encode a VALID P6 (h*w*3 bytes)
    img = (np.arange(24, dtype=np.uint8)).reshape(6, 4, 1)
    pgm = b"P5\n4 6\n255\n" + img.tobytes()
    df = spark.createDataFrame([(1, bytearray(pgm))], "media_id long, content binary")
    out = MM.resize_images(df, 3, 3).collect()[0]
    assert out.resized == 1
    rt = MM.decode_ppm(bytes(out.content))
    assert rt.shape == (3, 3, 3)  # decodes cleanly as RGB

    # 3. a corrupt-but-sniffable blob quarantines the ROW, not the job
    bad_wav = b"RIFF1234WAVEfm"  # truncated past the sniff point
    media = spark.createDataFrame(
        [(1, "audio", bytearray(bad_wav)), (2, "image", bytearray(MM.encode_ppm(np.zeros((2, 2, 3), np.uint8))))],
        "media_id long, kind string, content binary",
    )
    rows = {r.media_id: r for r in MM.extract_features(media, dim=4).collect()}
    assert rows[1].codec == "corrupt:wav" and rows[1].feature is None
    assert rows[2].codec == "ppm" and rows[2].feature is not None

    # 4. NULL/zero durations emit zero frames, not a phantom ts=0 frame
    vids = spark.createDataFrame(
        [(1, "video", 2000), (2, "video", None), (3, "video", 0)],
        "media_id long, kind string, duration_ms long",
    )
    plan = sorted((r.media_id, r.frame_ts_ms) for r in MM.frame_sample_plan(vids).collect())
    assert plan == [(1, 0), (1, 1000)]


def test_y4m_decode_roundtrip_and_formats():
    import numpy as np

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(5, 8, 12, 3), dtype=np.uint8)
    # C444 round-trips within rounding (no chroma loss)
    data = MM.encode_y4m(frames, fps=25, cfmt="444")
    assert MM.sniff_codec(data) == "y4m"
    fps, dec = MM.decode_y4m(data)
    assert fps == 25.0 and dec.shape == (5, 8, 12, 3)
    assert int(np.abs(dec.astype(int) - frames.astype(int)).max()) <= 2
    # C420 preserves flat-color frames (2x2 chroma mean is lossless there)
    flat = np.zeros((2, 4, 6, 3), np.uint8)
    flat[..., 0], flat[..., 1], flat[..., 2] = 200, 64, 32
    fps, dec420 = MM.decode_y4m(MM.encode_y4m(flat, cfmt="420jpeg"))
    assert int(np.abs(dec420.astype(int) - flat.astype(int)).max()) <= 2
    # fractional frame rate, mono chroma, max_frames early stop
    mono = (
        b"YUV4MPEG2 W4 H2 F30000:1001 Cmono\n"
        + b"FRAME\n" + bytes(range(8))
        + b"FRAME\n" + bytes(range(8, 16))
    )
    fps, decm = MM.decode_y4m(mono)
    assert abs(fps - 29.97) < 0.01 and decm.shape == (2, 2, 4, 3)
    # gray conversion: all three channels equal
    assert (decm[..., 0] == decm[..., 1]).all() and (decm[..., 1] == decm[..., 2]).all()
    assert MM.decode_y4m(mono, max_frames=1)[1].shape[0] == 1
    # truncation / garbage raise ValueError (quarantine contract)
    for bad in (data[:-5], b"YUV4MPEG2 W4 H2\x00", b"nonsense", data[: data.find(b"FRAME") + 3]):
        with pytest.raises(ValueError):
            MM.decode_y4m(bad)


def test_y4m_feature_and_extract_features_route(spark):
    import numpy as np

    frames = np.full((4, 6, 6, 3), 128, np.uint8)
    blob = MM.encode_y4m(frames, fps=10)
    media = spark.createDataFrame(
        [(1, "video", bytearray(blob))], "media_id long, kind string, content binary"
    )
    row = MM.extract_features(media, dim=8).collect()[0]
    assert row.codec == "y4m" and row.feature is not None
    # head = [fps, n_frames, h, w, mean_lum]
    assert row.feature[0] == 10.0 and row.feature[1] == 4.0
    assert row.feature[2] == 6.0 and row.feature[3] == 6.0
    # deterministic: same blob, same feature
    row2 = MM.extract_features(media, dim=8).collect()[0]
    assert row.feature == row2.feature


def test_extract_video_frames_real_decode(spark):
    import numpy as np

    # 10 frames with a per-frame luminance ramp: the per-frame features
    # must reflect each frame's own pixels, in stream order
    frames = np.stack(
        [np.full((4, 4, 3), 20 * i, np.uint8) for i in range(10)]
    )
    blob = MM.encode_y4m(frames, fps=20, cfmt="444")
    media = spark.createDataFrame(
        [(7, bytearray(blob)), (8, bytearray(b"YUV4MPEG2 W4 H4 F20:1\n" + b"FRAME"))],
        "media_id long, content binary",
    )
    out = MM.extract_video_frames(media, every_n=3, max_frames=3, dim=6)
    rows = sorted(out.collect(), key=lambda r: (r.media_id, r.frame_idx))
    good = [r for r in rows if r.media_id == 7]
    bad = [r for r in rows if r.media_id == 8]
    # every 3rd frame, capped at 3: indexes 0, 3, 6; ts at 20 fps = 50ms/frame
    assert [(r.frame_idx, r.ts_ms) for r in good] == [(0, 0), (3, 150), (6, 300)]
    assert all(r.height == 4 and r.width == 4 for r in good)
    # feature[3] is mean luminance/255 of THAT frame (ramp 0, 60, 120 —
    # ±2 for the limited-range Y' quantization round trip)
    lums = [round(r.feature[3] * 255) for r in good]
    assert all(abs(a - b) <= 2 for a, b in zip(lums, [0, 60, 120]))
    # corrupt blob quarantined as one (-1, NULL) row, job survives
    assert len(bad) == 1 and bad[0].frame_idx == -1 and bad[0].feature is None
    # mp4 keeps the explicit NotImplementedError contract
    mp4ish = spark.createDataFrame(
        [(9, bytearray(b"\x00\x00\x00\x08ftypisom"))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        MM.extract_video_frames(mp4ish).collect()


def test_y4m_zero_denominator_and_sparse_sampling(spark):
    import numpy as np

    # F25:0 must raise ValueError (the quarantine contract), not
    # ZeroDivisionError — a corrupt header must never kill the job
    bad = b"YUV4MPEG2 W4 H2 F25:0 Cmono\n" + b"FRAME\n" + bytes(8)
    with pytest.raises(ValueError, match="zero denominator"):
        MM.decode_y4m(bad)
    media = spark.createDataFrame(
        [(1, bytearray(bad))], "media_id long, content binary"
    )
    rows = MM.extract_video_frames(media).collect()
    assert len(rows) == 1 and rows[0].frame_idx == -1  # quarantined row
    # decode_feature's offset-sampled path must equal a full decode:
    # same descriptor for a long clip whether or not frames are skipped
    frames = np.stack(
        [np.full((4, 4, 3), (i * 11) % 256, np.uint8) for i in range(30)]
    )
    blob = MM.encode_y4m(frames, fps=25, cfmt="444")
    codec, sparse = MM.decode_feature(blob, dim=8, fake=False)
    full = MM._video_feature(*MM.decode_y4m(blob), dim=8)
    assert codec == "y4m" and np.array_equal(sparse, full)
    assert sparse[1] == 30.0  # n_frames reports the CLIP length


def test_streaming_ingest_dedup_store_and_state(spark, tmp_path):
    """The streaming admission gate: a doc whose fingerprint is in the
    static store is dropped by the stream-static anti join (never
    emitted, from any batch); a new fingerprint admitted in batch 1 is
    suppressed by state when it reappears in batch 2; same-batch
    repeats count in n_dups."""
    import time as _time
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import fingerprint_store

    src = tmp_path / "ingest_stream"
    schema = "doc_id long, ts timestamp, text string"

    def doc(did, minute, text):
        return (did, datetime(2025, 1, 1, 12, minute), text)

    store = fingerprint_store(
        spark.createDataFrame([(100, "already in the corpus")], "doc_id long, text string")
    ).localCheckpoint()
    batch1 = spark.createDataFrame(
        [
            doc(1, 0, "already in the corpus"),   # store dup -> dropped
            doc(2, 1, "fresh doc one"),
            doc(3, 2, "fresh doc one"),           # same-batch dup -> n_dups
            doc(4, 3, "fresh doc two"),
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [
            doc(5, 10, "fresh doc one"),          # cross-batch dup -> state drop
            doc(6, 11, "ALREADY -- in the corpus!"),  # normalizes to store dup
            doc(7, 12, "fresh doc three"),
        ],
        schema,
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    batch2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = SE.streaming_ingest_dedup(stream, store)
    q = SE.run_to_memory(out, "ingest_gate_out")
    try:
        rows = {r.first_event_id: r for r in spark.sql("SELECT * FROM ingest_gate_out").collect()}
        # admitted: doc 2 (one batch-1 sibling), doc 4, doc 7 — nothing else
        assert set(rows) == {2, 4, 7}
        assert rows[2].n_dups == 1
        assert rows[4].n_dups == 0 and rows[7].n_dups == 0
    finally:
        q.stop()


def test_streaming_semantic_ingest_state_and_nulls(spark, tmp_path):
    """The streaming SEMANTIC admission gate: a doc near-colinear with a
    store vector flags dup_semantic with that match; an orthogonal doc
    is 'new' but reports its best sub-tau candidate; a doc whose probed
    cell holds no store rows still emits ('new', NULL match) via the
    LEFT stream-static join; a doc id re-delivered in a later
    micro-batch is suppressed BY STATE (dropped state would re-emit
    it); a malformed embedding (wrong dim) emits status 'unusable'
    instead of vanishing (r06 ADVICE: one row per incoming doc)."""
    import time as _time
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import semantic_store

    dim = 4
    store_df = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # two centroids: store rows both land in cell 0's half-space; cell 1
    # (the -x axis) stays EMPTY so a delta doc probing only it exercises
    # the left-join NULL path with n_probe=1
    cents = [[1.0, 1.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    store = semantic_store(store_df, dim=dim, n_cells=2, centroids=cents).localCheckpoint()

    schema = "vec_id long, ts timestamp, embedding array<double>"

    def doc(vid, minute, vec):
        return (vid, datetime(2025, 1, 1, 12, minute), vec)

    b1 = spark.createDataFrame(
        [
            doc(1, 0, [0.99, 0.05, 0.0, 0.0]),   # near store 100 -> dup_semantic
            doc(2, 1, [0.0, 0.1, 0.7, 0.7]),     # far from all -> new + candidate
            doc(3, 2, [-1.0, -0.2, 0.0, 0.0]),   # probes empty cell 1 -> new, NULL
            doc(5, 3, [1.0, 0.0]),               # wrong dim -> unusable
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            doc(1, 10, [0.99, 0.05, 0.0, 0.0]),  # re-delivery -> state suppresses
            doc(4, 11, [0.0, 0.98, 0.01, 0.0]),  # near store 101 -> dup_semantic
        ],
        schema,
    )
    src = tmp_path / "sem_stream"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    b2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = SE.streaming_semantic_ingest(
        stream, store, cents, dim=dim, tau=0.9, n_probe=1
    )
    q = SE.run_to_memory(out, "sem_gate_out")
    try:
        rows = {r.id: r for r in spark.sql("SELECT * FROM sem_gate_out").collect()}
        assert set(rows) == {1, 2, 3, 4, 5}  # doc 1 emitted ONCE (state)
        assert rows[1].status == "dup_semantic" and rows[1].match_id == 100
        assert rows[2].status == "new" and rows[2].match_id is not None
        assert rows[2].cosine < 0.9
        assert rows[3].status == "new" and rows[3].match_id is None
        assert rows[3].cosine is None
        assert rows[4].status == "dup_semantic" and rows[4].match_id == 101
        assert rows[5].status == "unusable" and rows[5].match_id is None
        assert rows[5].cosine is None
    finally:
        q.stop()


def test_streaming_semantic_ingest_string_ids(spark, tmp_path):
    """The group key keeps the stream's NATIVE id type (r06 ADVICE: the
    old cast-to-long NULLed every non-numeric id into ONE state group,
    so only the first string-id doc ever emitted).  Three string-id
    docs in one batch must each emit their own decision, id typed
    string in the output."""
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import semantic_store

    dim = 4
    store_df = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = [[1.0, 1.0, 1.0, 1.0]]
    store = semantic_store(store_df, dim=dim, n_cells=1, centroids=cents).localCheckpoint()

    schema = "vec_id string, ts timestamp, embedding array<double>"
    ts = datetime(2025, 1, 1, 12, 0)
    batch = spark.createDataFrame(
        [
            ("doc-a", ts, [0.99, 0.05, 0.0, 0.0]),
            ("doc-b", ts, [0.0, 0.0, 0.7, 0.7]),
            ("doc-c", ts, None),
        ],
        schema,
    )
    src = tmp_path / "sem_stream_str"
    batch.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = SE.streaming_semantic_ingest(stream, store, cents, dim=dim, tau=0.9, n_probe=1)
    assert dict(out.dtypes)["id"] == "string"
    q = SE.run_to_memory(out, "sem_gate_str_out")
    try:
        rows = {r.id: r for r in spark.sql("SELECT * FROM sem_gate_str_out").collect()}
        assert set(rows) == {"doc-a", "doc-b", "doc-c"}
        assert rows["doc-a"].status == "dup_semantic" and rows["doc-a"].match_id == 100
        assert rows["doc-b"].status == "new"
        assert rows["doc-c"].status == "unusable"
    finally:
        q.stop()


def test_streaming_semantic_ingest_foreach_dpp_and_suppression(spark, tmp_path):
    """The corpus-scale foreachBatch semantic gate (r06 verdict ask #5):
    inside EVERY micro-batch the gate must run the batch operator with
    the partitioned store as the join's PROBE side — dynamic partition
    pruning visible in each epoch's physical plan (the stream-static
    twin cannot have this: there the store is the broadcast build
    side) — and a doc id re-delivered in a later micro-batch must be
    suppressed by the decisions log, keeping its first decision.
    Within-epoch plans must also never sort-merge (store never
    shuffles)."""
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        sampled_centroids,
        semantic_store,
    )

    dim = 4
    store_rows = [
        (100 + i, [1.0 * (i % 3 == 0), 1.0 * (i % 3 == 1), 1.0 * (i % 3 == 2), 0.1])
        for i in range(12)
    ]
    store_df = spark.createDataFrame(store_rows, "vec_id long, embedding array<double>")
    cents = sampled_centroids(store_df, n_cells=3)
    spath = str(tmp_path / "sem_store")
    semantic_store(store_df, dim=dim, n_cells=3, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(spath)
    store = spark.read.parquet(spath)

    schema = "vec_id long, ts timestamp, embedding array<double>"

    def doc(vid, minute, vec):
        return (vid, datetime(2025, 1, 1, 12, minute), vec)

    b1 = spark.createDataFrame(
        [
            doc(1, 0, [0.99, 0.01, 0.0, 0.1]),  # near the x-axis store rows
            doc(2, 1, [0.0, 0.0, 0.0, 1.0]),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            doc(1, 10, [0.99, 0.01, 0.0, 0.1]),  # re-delivery -> log suppresses
            doc(3, 11, [0.0, 0.99, 0.01, 0.1]),
        ],
        schema,
    )
    src = tmp_path / "sem_foreach_stream"
    import time as _time

    b1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    b2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    plans: list[str] = []
    q = SE.streaming_semantic_ingest_foreach(
        stream,
        store,
        cents,
        dim=dim,
        decisions_path=str(tmp_path / "decisions"),
        checkpoint=str(tmp_path / "ckpt"),
        tau=0.9,
        n_probe=1,
        plan_probe=plans,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(plans) == 2  # one gate plan per micro-batch
    for p in plans:
        assert "dynamicpruning" in p.lower(), "store scan not DPP-pruned in epoch plan"
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p

    out = SE.read_gate_decisions(spark, str(tmp_path / "decisions"))
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].status == "dup_semantic" and rows[1]._epoch == 0  # first decision kept
    assert rows[2].status == "new"
    assert rows[3].status == "dup_semantic" and rows[3]._epoch == 1


def test_streaming_exact_and_minhash_foreach_gates(spark, tmp_path):
    """The two r07 foreachBatch gates completing the corpus-scale trio:
    inside EVERY micro-batch the exact gate must keep the batch
    operator's never-shuffle shape (store scanned once, delta
    fingerprints broadcast as a LeftSemi probe, no sort-merge) and the
    minhash gate its (band, bucket) broadcast hash join; cross-batch
    re-delivered doc ids must be suppressed by the decisions log; and
    per-epoch dup_batch keepers must be epoch-local (a text duplicated
    across two docs in ONE batch flags dup_batch, the same text
    arriving under a new id in a LATER batch is 'new' again — the
    static-store semantics the operator documents)."""
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        minhash_store,
    )

    schema = "doc_id long, ts timestamp, text string"

    def doc(did, minute, text):
        return (did, datetime(2025, 1, 1, 12, minute), text)

    corpus_text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about adaptive query execution plans"
    third = "a third body of text that is not like the other two at all"
    store_docs = spark.createDataFrame(
        [(100, corpus_text)], "doc_id long, text string"
    )
    fpath = str(tmp_path / "fp_store")
    fingerprint_store(store_docs).write.parquet(fpath)
    fp_store = spark.read.parquet(fpath)
    mpath = str(tmp_path / "mh_store")
    minhash_store(store_docs).write.parquet(mpath)
    mh_store = spark.read.parquet(mpath)

    b1 = spark.createDataFrame(
        [
            doc(1, 0, corpus_text),  # store clone -> dup_store
            doc(2, 1, other),        # new
            doc(3, 2, other),        # same text, same batch -> dup_batch
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            doc(1, 10, corpus_text),  # re-delivered id -> suppressed
            doc(4, 11, other),        # same text, LATER batch -> new again
            doc(5, 12, third),        # new
        ],
        schema,
    )
    src = tmp_path / "doc_stream"
    import time as _time

    b1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.2)
    b2.coalesce(1).write.mode("append").parquet(str(src))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    # --- exact gate ---
    plans: list[str] = []
    q = SE.streaming_ingest_dedup_foreach(
        stream(),
        fp_store,
        decisions_path=str(tmp_path / "dec_exact"),
        checkpoint=str(tmp_path / "ckpt_exact"),
        plan_probe=plans,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(plans) == 2
    for p in plans:
        assert "BroadcastHashJoin LeftSemi BuildRight" in p  # store probe
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
        # the store contributes exactly ONE scan per epoch plan
        assert sum("fp_store" in l for l in p.splitlines() if "Location" in l) == 1
    rows = {
        r.id: r for r in SE.read_gate_decisions(spark, str(tmp_path / "dec_exact")).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1].status == "dup_store" and rows[1]._epoch == 0
    assert rows[2].status == "new" and rows[3].status == "dup_batch"
    assert rows[4].status == "new" and rows[4]._epoch == 1  # epoch-local keeper
    assert rows[5].status == "new"

    # --- minhash gate ---
    plans2: list[str] = []
    q2 = SE.streaming_minhash_ingest_foreach(
        stream(),
        mh_store,
        decisions_path=str(tmp_path / "dec_mh"),
        checkpoint=str(tmp_path / "ckpt_mh"),
        plan_probe=plans2,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(plans2) == 2
    for p in plans2:
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
        assert "CartesianProduct" not in p
    rows2 = {
        r.id: r for r in SE.read_gate_decisions(spark, str(tmp_path / "dec_mh")).collect()
    }
    assert set(rows2) == {1, 2, 3, 4, 5}  # id 1 decided once (log suppression)
    assert rows2[1].status == "dup_near" and rows2[1].match_id == 100
    assert rows2[1].est_jaccard == 1.0 and rows2[1]._epoch == 0
    assert rows2[5].status == "new"


def test_gate_log_epoch_dirs_atomic_retry(spark, tmp_path):
    """The r08 exactly-once protocol (r07 ADVICE): each epoch lands in
    its own _epoch=<n> directory via mode("overwrite"), and the
    suppression probe reads strictly-prior epochs only.  Faithful retry
    simulation: run epoch 0, then pollute _epoch=1 with a divergent
    partial first attempt (a wrong 'new' row for a doc the real epoch 1
    will deliver), restart the stream on the SAME checkpoint with a new
    source file.  The restarted epoch 1 must (a) not let the partial
    rows suppress its own docs — doc 7 still gets a decision — and (b)
    atomically REPLACE the polluted directory, so the fabricated row is
    gone from the final log."""
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import fingerprint_store

    schema = "doc_id long, ts timestamp, text string"

    def doc(did, minute, text):
        return (did, datetime(2025, 1, 1, 12, minute), text)

    corpus_text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about adaptive query execution plans"
    store_docs = spark.createDataFrame([(100, corpus_text)], "doc_id long, text string")
    fpath = str(tmp_path / "fp_store")
    fingerprint_store(store_docs).write.parquet(fpath)
    fp_store = spark.read.parquet(fpath)

    src = tmp_path / "retry_stream"
    dec = str(tmp_path / "dec_retry")
    ckpt = str(tmp_path / "ckpt_retry")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return SE.streaming_ingest_dedup_foreach(stream, fp_store, dec, ckpt)

    b1 = spark.createDataFrame([doc(1, 0, corpus_text), doc(2, 1, other)], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # epoch 0 committed into its own partition directory, no _epoch data column
    assert os.path.isdir(f"{dec}/_epoch=0")
    raw0 = spark.read.parquet(f"{dec}/_epoch=0")
    assert "_epoch" not in raw0.columns

    # fabricate a partially committed epoch 1: doc 7 wrongly decided
    # 'new' with a bogus fingerprint, plus a duplicate-text doc 8 row
    fake = spark.createDataFrame(
        [(7, "deadbeef", "new", datetime(2025, 1, 1, 12, 9)),
         (8, "deadbeef", "dup_batch", datetime(2025, 1, 1, 12, 9))],
        "id long, fingerprint string, status string, first_ts timestamp",
    )
    fake.coalesce(1).write.parquet(f"{dec}/_epoch=1")

    # the real epoch 1 arrives; restart on the same checkpoint
    import time as _time

    _time.sleep(1.2)
    b2 = spark.createDataFrame(
        [doc(7, 10, other), doc(8, 11, other), doc(1, 12, corpus_text)], schema
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.id: r for r in SE.read_gate_decisions(spark, dec).collect()}
    assert set(rows) == {1, 2, 7, 8}  # doc 1 suppressed by epoch 0, not re-decided
    assert rows[1].status == "dup_store" and rows[1]._epoch == 0
    # doc 7 was NOT suppressed by the polluted partial epoch: it got a
    # real decision, and the fabricated fingerprint is gone (replaced)
    assert rows[7].status == "new" and rows[7].fingerprint != "deadbeef"
    assert rows[8].status == "dup_batch" and rows[8]._epoch == 1
    raw1 = spark.read.parquet(f"{dec}/_epoch=1")
    assert raw1.filter(F.col("fingerprint") == "deadbeef").count() == 0


def test_read_gate_decisions_deterministic_on_legacy_divergence(spark, tmp_path):
    """Defense-in-depth for PRE-r08 append-protocol logs: two divergent
    rows for one id under the SAME epoch (the partial-commit artifact
    the old protocol could leave) must compact deterministically to the
    conservative decision — status 'dup_batch' sorts before 'new', so a
    legacy divergence can never resolve into a double admit."""
    from datetime import datetime

    ts = datetime(2025, 1, 1, 12, 0)
    legacy = spark.createDataFrame(
        [
            (9, "abc", "new", ts, 3),
            (9, "abc", "dup_batch", ts, 3),
            (4, "abc", "new", ts, 3),
        ],
        "id long, fingerprint string, status string, first_ts timestamp, _epoch int",
    )
    path = str(tmp_path / "legacy_log")
    legacy.write.parquet(path)
    for _ in range(3):  # stable across re-reads, not one lucky ordering
        rows = {r.id: r for r in SE.read_gate_decisions(spark, path).collect()}
        assert rows[9].status == "dup_batch" and rows[9]._epoch == 3
        assert rows[4].status == "new"


def test_foreach_gate_refuses_foreign_run_and_legacy_logs(spark, tmp_path):
    """The epoch-dir protocol fails FAST instead of silently corrupting:
    (a) a decisions log holding epochs BEYOND this stream's counter
    belongs to a different stream run (fresh checkpoint restarts at 0 —
    the probe would ignore those rows and the overwrite would destroy
    them); (b) a pre-epoch-dir log (root-level part files) is invisible
    to the epoch glob.  Both must abort the stream with guidance, never
    re-admit previously decided docs."""
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import fingerprint_store

    schema = "doc_id long, ts timestamp, text string"
    store_docs = spark.createDataFrame([(100, "stored text")], "doc_id long, text string")
    fpath = str(tmp_path / "fp_store")
    fingerprint_store(store_docs).write.parquet(fpath)
    fp_store = spark.read.parquet(fpath)
    batch = spark.createDataFrame(
        [(1, datetime(2025, 1, 1, 12, 0), "some new content")], schema
    )
    src = tmp_path / "docs"
    batch.coalesce(1).write.parquet(str(src))

    def run(dec_dir, ckpt_dir):
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = SE.streaming_ingest_dedup_foreach(
            stream, fp_store,
            decisions_path=str(tmp_path / dec_dir),
            checkpoint=str(tmp_path / ckpt_dir),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # (a) foreign run: pre-plant an _epoch=3 dir, start with a FRESH
    # checkpoint (this stream's first epoch is 0 < 3)
    planted = spark.createDataFrame(
        [(99, "dup_store", datetime(2025, 1, 1, 11, 0))],
        "id long, status string, first_ts timestamp",
    )
    planted.write.parquet(str(tmp_path / "dec_foreign" / "_epoch=3"))
    with pytest.raises(Exception, match="different stream run"):
        run("dec_foreign", "ckpt_foreign")
    # the planted epoch survived untouched (nothing overwrote it)
    assert spark.read.parquet(str(tmp_path / "dec_foreign")).count() == 1

    # (b) legacy layout: root-level part files (pre-epoch-dir protocol)
    planted.withColumn("_epoch", F.lit(0)).write.parquet(str(tmp_path / "dec_legacy"))
    with pytest.raises(Exception, match="pre-epoch-dir"):
        run("dec_legacy", "ckpt_legacy")


def _gate_runner(spark, tmp_path, src_name="marker_docs"):
    """Shared harness for the decisions-log lifecycle tests: a file
    source the tests append batches to, plus a starter that runs the
    exact foreachBatch gate against a (decisions, checkpoint) pair."""
    from datetime import datetime

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import fingerprint_store

    schema = "doc_id long, ts timestamp, text string"
    store_docs = spark.createDataFrame([(100, "stored text")], "doc_id long, text string")
    fpath = str(tmp_path / f"{src_name}_fp_store")
    fingerprint_store(store_docs).write.parquet(fpath)
    fp_store = spark.read.parquet(fpath)
    src = tmp_path / src_name

    def feed(*docs):
        import time as _time

        _time.sleep(1.2)  # distinct file mtimes → distinct micro-batches
        rows = [(d, datetime(2025, 1, 1, 12, m), t) for d, m, t in docs]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    def run(dec, ckpt, max_files=None):
        reader = spark.readStream.schema(schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        q = SE.streaming_ingest_dedup_foreach(
            reader.parquet(str(src)), fp_store,
            decisions_path=str(tmp_path / dec), checkpoint=str(tmp_path / ckpt),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    return feed, run


def test_foreach_gate_run_marker_blocks_epoch0_collision(spark, tmp_path):
    """The r08 ADVICE medium defect: a reused decisions_path whose old
    log holds ONLY epoch(s) <= the new stream's first epoch (the lone
    _epoch=0 case) used to slip past the strictly-greater stale probe,
    and mode('overwrite') destroyed the old run's epoch-0 decisions.
    The _run_id marker (persisted query id) now distinguishes runs at
    ANY epoch: run A writes epoch 0 + marker; run B on a FRESH
    checkpoint but the SAME decisions_path must fail fast BEFORE
    writing, with run A's decisions intact — while run A itself resumes
    cleanly (same checkpoint → same query id)."""
    feed, run = _gate_runner(spark, tmp_path)
    feed((1, 0, "first batch text"))
    run("dec_marker", "ckpt_a")
    dec_path = str(tmp_path / "dec_marker")
    assert os.path.isfile(f"{dec_path}/_run_id")
    a_rows = sorted(map(tuple, spark.read.parquet(dec_path).collect()))
    assert len(a_rows) == 1

    # foreign run: fresh checkpoint, same decisions path, epoch 0 vs 0
    feed((2, 1, "second batch text"))
    with pytest.raises(Exception, match="different stream run"):
        run("dec_marker", "ckpt_b")
    # run A's epoch-0 decisions survived the collision attempt
    assert sorted(map(tuple, spark.read.parquet(dec_path).collect())) == a_rows

    # the legitimate owner resumes: same checkpoint → same query id
    run("dec_marker", "ckpt_a")
    rows = {r.id: r.status for r in SE.read_gate_decisions(spark, dec_path).collect()}
    assert rows == {1: "new", 2: "new"}


def test_foreach_gate_refuses_unmarked_and_misnamed_epoch_dirs(spark, tmp_path):
    """Two more fail-fast layers: (a) committed epoch dirs WITHOUT a
    _run_id marker (a pre-marker r08 log, or a foreign run) refuse with
    the stamp_gate_decisions_run guidance, and adopting the log with
    that helper lets the run proceed; (b) a non-integer _epoch= dir
    folds into the protocol's guidance error instead of leaking a bare
    ValueError (r08 ADVICE)."""
    from datetime import datetime

    feed, run = _gate_runner(spark, tmp_path, src_name="unmarked_docs")
    feed((1, 0, "batch zero text"))
    run("dec_unmarked", "ckpt_u")
    dec_path = str(tmp_path / "dec_unmarked")
    os.remove(f"{dec_path}/_run_id")  # simulate a pre-marker (r08) log

    feed((2, 1, "batch one text"))
    with pytest.raises(Exception, match="stamp_gate_decisions_run"):
        run("dec_unmarked", "ckpt_u")
    # explicit adoption: derive the marker from the run's own checkpoint
    SE.stamp_gate_decisions_run(spark, dec_path, checkpoint=str(tmp_path / "ckpt_u"))
    run("dec_unmarked", "ckpt_u")
    rows = {r.id: r.status for r in SE.read_gate_decisions(spark, dec_path).collect()}
    assert rows == {1: "new", 2: "new"}

    # (b) a stray non-integer epoch dir fails with guidance, not ValueError
    stray = spark.createDataFrame(
        [(9, "x", "new", datetime(2025, 1, 1, 12, 0))],
        "id long, fingerprint string, status string, first_ts timestamp",
    )
    stray.coalesce(1).write.parquet(f"{dec_path}/_epoch=__HIVE_DEFAULT_PARTITION__")
    feed((3, 2, "batch two text"))
    with pytest.raises(Exception, match="non-integer epoch"):
        run("dec_unmarked", "ckpt_u")


def test_migrate_gate_decisions_log(spark, tmp_path):
    """The one-shot migration the legacy fail-fast error names (r08
    verdict ask): plant a pre-epoch-dir log (root part files, _epoch as
    a data column), verify the gate refuses it, migrate, and the SAME
    stream resumes green on the migrated log — prior decisions
    preserved (suppression works across the migration boundary) and the
    new epoch appended."""
    feed, run = _gate_runner(spark, tmp_path, src_name="mig_docs")
    feed((1, 0, "alpha text"), (2, 1, "beta text"))
    run("dec_orig", "ckpt_m")
    orig = str(tmp_path / "dec_orig")
    legacy = str(tmp_path / "dec_legacy_mig")
    # flatten the epoch-dir log into the pre-r08 append layout
    spark.read.parquet(orig).write.parquet(legacy)
    assert SE.read_gate_decisions(spark, legacy).count() == 2

    feed((1, 2, "alpha text"), (3, 3, "gamma text"))  # re-delivery + new doc
    with pytest.raises(Exception, match="migrate_gate_decisions_log"):
        run("dec_legacy_mig", "ckpt_m")

    n = SE.migrate_gate_decisions_log(
        spark, legacy, checkpoint=str(tmp_path / "ckpt_m")
    )
    assert n == 1  # one epoch group in the legacy log
    assert os.path.isdir(f"{legacy}/_epoch=0") and os.path.isfile(f"{legacy}/_run_id")
    assert SE.migrate_gate_decisions_log(spark, legacy) == 0  # idempotent no-op

    run("dec_legacy_mig", "ckpt_m")
    rows = {r.id: r for r in SE.read_gate_decisions(spark, legacy).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]._epoch == 0  # suppressed re-delivery kept its first decision
    assert rows[3].status == "new" and rows[3]._epoch == 1


def test_compact_gate_decisions(spark, tmp_path):
    """Decisions-log compaction (r08 verdict ask #2): folding the
    per-epoch directory tree into a resolved root-level log must keep
    read_gate_decisions' answer IDENTICAL, shrink the file listing, and
    turn any resume attempt into the compaction-specific fail-fast (a
    finished run cannot be resumed)."""
    feed, run = _gate_runner(spark, tmp_path, src_name="cmp_docs")
    feed((1, 0, "one text"))
    feed((2, 1, "two text"))
    feed((1, 2, "one text"), (3, 3, "three text"))
    run("dec_cmp", "ckpt_c", max_files=1)
    dec_path = str(tmp_path / "dec_cmp")
    epoch_dirs = [d for d in os.listdir(dec_path) if d.startswith("_epoch=")]
    assert len(epoch_dirs) == 3
    pre = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))

    before, after = SE.compact_gate_decisions(spark, dec_path)
    assert before >= 3 and 1 <= after < before
    assert not any(d.startswith("_epoch=") for d in os.listdir(dec_path))
    post = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))
    assert post == pre  # identical decisions through the rewrite
    # gate_maintenance accepts the compacted log as a materialized input
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import gate_maintenance as GM

    GM.append_admitted_fingerprints(
        SE.read_gate_decisions(spark, dec_path), str(tmp_path / "cmp_fp_store")
    )
    assert spark.read.parquet(str(tmp_path / "cmp_fp_store")).count() == 3

    feed((4, 4, "four text"))
    with pytest.raises(Exception, match="COMPACTED"):
        run("dec_cmp", "ckpt_c")


def test_streaming_query_id_and_compaction_edge_cases(spark, tmp_path):
    """Lifecycle helper edges: streaming_query_id fails loudly on an
    uninitialized checkpoint (the marker guard must never silently skip
    verification); compact_gate_decisions and migrate_gate_decisions_log
    are no-ops on paths with nothing to fold/migrate."""
    with pytest.raises(RuntimeError, match="metadata"):
        SE.streaming_query_id(spark, str(tmp_path / "no_such_ckpt"))
    assert SE.compact_gate_decisions(spark, str(tmp_path / "empty_log")) == (0, 0)
    assert SE.migrate_gate_decisions_log(spark, str(tmp_path / "empty_log")) == 0
    with pytest.raises(ValueError, match="checkpoint= or run_id="):
        SE.stamp_gate_decisions_run(spark, str(tmp_path / "log"))


def test_migrate_phase2_crash_never_rebuilds_from_subset(spark, tmp_path):
    """Review fix: migration is two guarded phases.  A crash mid
    root-file deletion (phase 2) leaves the _migrate_dirs_done marker;
    the re-run must NOT rebuild the complete epoch dirs from the
    SURVIVING SUBSET of root files (that silently lost the deleted
    files' decisions) — it skips the rewrite and only finishes the
    cleanup."""
    from datetime import datetime

    legacy = str(tmp_path / "legacy2")
    rows = spark.createDataFrame(
        [(i, f"fp{i}", "new", datetime(2025, 1, 1, 12, i), 0) for i in range(6)],
        "id long, fingerprint string, status string, first_ts timestamp, _epoch int",
    )
    rows.repartition(2).write.parquet(legacy)  # >= 2 root part files
    assert SE.migrate_gate_decisions_log(spark, legacy) == 1
    full = sorted(map(tuple, SE.read_gate_decisions(spark, legacy).collect()))
    assert len(full) == 6

    # simulate the phase-2 crash: marker present, only a SUBSET of the
    # root files surviving (one part file re-planted with 2 of the 6)
    subset = spark.createDataFrame(
        [(0, "fp0", "new", datetime(2025, 1, 1, 12, 0), 0),
         (1, "fp1", "new", datetime(2025, 1, 1, 12, 1), 0)],
        "id long, fingerprint string, status string, first_ts timestamp, _epoch int",
    )
    subset.coalesce(1).write.mode("append").parquet(legacy)
    # the append wrote into the root; mark phase 1 as committed
    with open(f"{legacy}/_migrate_dirs_done", "w") as f:
        f.write("1")
    assert SE.migrate_gate_decisions_log(spark, legacy) == 0  # no rewrite
    assert sorted(map(tuple, SE.read_gate_decisions(spark, legacy).collect())) == full
    assert not any(n.startswith("part-") for n in os.listdir(legacy))
    assert not os.path.exists(f"{legacy}/_migrate_dirs_done")


def test_compact_gate_decisions_crash_window_is_not_empty(spark, tmp_path):
    """Review fix: the fold commits its _compacted marker BEFORE any
    epoch dir is deleted, and the gate checks the marker
    UNCONDITIONALLY — so the mid-fold state (marker + tmp copy, epoch
    dirs gone, root files not yet moved) fails fast as a finished run
    instead of reading as an EMPTY log, and a compact re-run FINISHES
    the fold with identical decisions."""
    import shutil

    feed, run = _gate_runner(spark, tmp_path, src_name="crash_docs")
    feed((1, 0, "crash one"))
    feed((2, 1, "crash two"))
    run("dec_crash", "ckpt_cr", max_files=1)
    dec_path = str(tmp_path / "dec_crash")
    pre = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))

    # hand-build the crash window: resolved copy in _compact_tmp +
    # marker written, every epoch dir already deleted, nothing moved yet
    SE.read_gate_decisions(spark, dec_path).coalesce(1).write.parquet(
        f"{dec_path}/_compact_tmp"
    )
    with open(f"{dec_path}/_compacted", "w") as f:
        f.write("1")
    for d in list(os.listdir(dec_path)):
        if d.startswith("_epoch="):
            shutil.rmtree(f"{dec_path}/{d}")

    # (a) resuming the stream in this state must fail fast, not re-admit
    feed((3, 2, "crash three"))
    with pytest.raises(Exception, match="COMPACTED"):
        run("dec_crash", "ckpt_cr")

    # (b) a compact re-run finishes the fold; decisions identical
    before, after = SE.compact_gate_decisions(spark, dec_path)
    assert before == 0 and after >= 1
    assert sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect())) == pre
    # idempotent once complete
    assert SE.compact_gate_decisions(spark, dec_path) == (0, 0)


def test_run_marker_create_is_compare_and_set(spark, tmp_path):
    """Review fix: the run-marker claim uses create(overwrite=false) —
    the second creator LOSES and must see the first claimant's id, so
    two fresh streams racing on one decisions_path cannot both pass."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.fslock import (
        _fs_create_text,
        _fs_read_text,
    )

    p = str(tmp_path / "claim" / "_run_id")
    assert _fs_create_text(spark, p, "run-A") is True
    assert _fs_create_text(spark, p, "run-B") is False  # lost the race
    assert _fs_read_text(spark, p) == "run-A"  # loser reads the winner


def test_fs_create_text_reraises_non_race_failures(spark, tmp_path):
    """r09 ADVICE: only an actual lost race (the claim path exists)
    reads as False — a REAL create failure (here: the parent is a
    regular file, standing in for transient FS/permission errors)
    re-raises instead of surfacing downstream as a misleading 'claimed
    by another run' diagnosis."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.fslock import (
        _fs_create_text,
    )

    parent = tmp_path / "not_a_dir"
    parent.write_text("a regular file where a directory must be")
    with pytest.raises(Exception):
        _fs_create_text(spark, str(parent / "_run_id"), "run-A")


def test_migrate_rejects_null_and_nonint_epoch_before_writing(spark, tmp_path):
    """r09 ADVICE: a legacy log holding a null _epoch row — or a
    non-integer-typed _epoch column (a DOUBLE would write `_epoch=3.0`
    dirs the integer rename never finds) — must fail the migration UP
    FRONT with the guided error, before the partitionBy rewrite writes
    an _epoch=__HIVE_DEFAULT_PARTITION__ or stringly-named directory
    the gate would then permanently refuse.  Root files stay intact and
    no epoch directory appears."""
    legacy = str(tmp_path / "legacy_null")
    spark.createDataFrame(
        [(1, "fpA", "new", 0), (2, "fpB", "new", None)],
        "id long, fingerprint string, status string, _epoch int",
    ).coalesce(1).write.parquet(legacy)
    with pytest.raises(RuntimeError, match="NULL _epoch"):
        SE.migrate_gate_decisions_log(spark, legacy)
    names = os.listdir(legacy)
    assert not any(n.startswith("_epoch=") for n in names)  # nothing written
    assert any(n.startswith("part-") for n in names)  # root files intact
    assert not os.path.exists(f"{legacy}/_migrate_dirs_done")

    legacy2 = str(tmp_path / "legacy_float")
    spark.createDataFrame(
        [(1, "fpA", "new", 0.0)],
        "id long, fingerprint string, status string, _epoch double",
    ).coalesce(1).write.parquet(legacy2)
    with pytest.raises(RuntimeError, match="non-integer-typed _epoch"):
        SE.migrate_gate_decisions_log(spark, legacy2)
    assert not any(n.startswith("_epoch=") for n in os.listdir(legacy2))


def test_compact_gate_decisions_maintenance_marker(spark, tmp_path):
    """r09 verdict ask #2, decisions-log side: compact_gate_decisions
    claims the log's _maintenance marker for the whole fold — a second
    pass racing it loses the compare-and-set with the designed error —
    and releases it on completion, so the resolved log reads normally
    afterwards."""
    feed, run = _gate_runner(spark, tmp_path, src_name="mx_docs")
    feed((1, 0, "marker one"))
    feed((2, 1, "marker two"))
    run("dec_mx", "ckpt_mx", max_files=1)
    dec_path = str(tmp_path / "dec_mx")
    pre = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))

    # a held marker (concurrent or crashed pass) makes the CAS loser raise
    with open(f"{dec_path}/_maintenance", "w") as f:
        f.write("another fold")
    with pytest.raises(RuntimeError, match="_maintenance"):
        SE.compact_gate_decisions(spark, dec_path)
    os.remove(f"{dec_path}/_maintenance")  # the documented adjudication

    before, after = SE.compact_gate_decisions(spark, dec_path)
    assert before >= 2 and after >= 1
    assert not os.path.exists(f"{dec_path}/_maintenance")  # released
    assert sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect())) == pre


def test_log_user_claims_block_fold_and_back_out(spark, tmp_path):
    """r11: every gate epoch holds a `_claims/<uuid>` file for its whole
    body and compact_gate_decisions refuses while one exists — the
    fold-vs-epoch mutual exclusion is two-sided, closing the pre-commit
    window the marker's boundary check only narrowed.  Pins: epoch
    claims are released after the run (a quiescent log folds), a stale
    claim blocks the fold with the adjudication guidance and the losing
    fold releases its marker, and a claim attempted while the marker is
    held backs out leaving no claim file."""
    feed, run = _gate_runner(spark, tmp_path, src_name="clm_docs")
    feed((1, 0, "claims one"))
    run("dec_clm", "ckpt_clm")
    dec_path = str(tmp_path / "dec_clm")
    claims = f"{dec_path}/_claims"

    def live_claims():
        if not os.path.isdir(claims):
            return []
        return [f for f in os.listdir(claims) if not f.startswith((".", "_"))]

    assert live_claims() == []  # epoch claims released after the run

    # a mid-flight epoch's claim makes the fold refuse with guidance
    os.makedirs(claims, exist_ok=True)
    with open(f"{claims}/cafe01", "w") as f:
        f.write("gate epoch 9")
    with pytest.raises(RuntimeError, match="active gate-epoch claims"):
        SE.compact_gate_decisions(spark, dec_path)
    assert not os.path.exists(f"{dec_path}/_maintenance")  # loser released it
    os.remove(f"{claims}/cafe01")  # the stale-claim adjudication

    # phase-2 back-out: marker held → a new claim attempt dies claim-free,
    # and read_gate_decisions fails FAST instead of silently resolving a
    # mid-fold partial log (r11: the fold's move phase leaves the data in
    # the hidden _compact_tmp a raw read cannot see)
    with open(f"{dec_path}/_maintenance", "w") as f:
        f.write("fold")
    with pytest.raises(RuntimeError, match="under maintenance"):
        with SE.log_user_claim(spark, dec_path, "epoch X"):
            raise AssertionError("must not enter — the claim lost")
    assert live_claims() == []
    with pytest.raises(RuntimeError, match="under maintenance"):
        SE.read_gate_decisions(spark, dec_path)
    os.remove(f"{dec_path}/_maintenance")

    # quiescent log: the fold proceeds and the resolved log reads the same
    pre = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))
    SE.compact_gate_decisions(spark, dec_path)
    assert sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect())) == pre


def test_sweep_stale_log_claims(spark, tmp_path):
    """r12: the log-side twin of gate_maintenance.sweep_stale_claims —
    a crashed stream's leftover epoch claim (old payload stamp) is aged
    out so an unattended loop's fold unblocks itself; a fresh claim
    survives; the sweep refuses while the fold's `_maintenance` marker
    is held (a crashed fold adjudicates first)."""
    import json

    feed, run = _gate_runner(spark, tmp_path, src_name="swp_docs")
    feed((1, 0, "sweep body one"))
    run("dec_swp", "ckpt_swp")
    dec_path = str(tmp_path / "dec_swp")
    claims = f"{dec_path}/_claims"
    os.makedirs(claims, exist_ok=True)
    with open(f"{claims}/deadepoch", "w") as f:
        f.write(
            json.dumps(
                {
                    "what": "gate epoch 7",
                    "created_utc": "2020-01-01T00:00:00Z",
                    "pid": 99,
                    "host": "lost-worker",
                }
            )
        )
    with open(f"{claims}/liveepoch", "w") as f:
        f.write(FL._claim_payload("gate epoch 8"))

    with pytest.raises(RuntimeError, match="active gate-epoch claims"):
        SE.compact_gate_decisions(spark, dec_path)

    swept = SE.sweep_stale_log_claims(spark, dec_path, max_age_s=6 * 3600)
    assert [r["name"] for r in swept] == ["deadepoch"]
    assert swept[0]["host"] == "lost-worker" and swept[0]["what"] == "gate epoch 7"
    assert sorted(os.listdir(claims)) and os.path.exists(f"{claims}/liveepoch")

    # refuses while the fold's marker is held
    with open(f"{dec_path}/_maintenance", "w") as f:
        f.write("crashed fold")
    with pytest.raises(RuntimeError, match="under maintenance"):
        SE.sweep_stale_log_claims(spark, dec_path, max_age_s=0)
    os.remove(f"{dec_path}/_maintenance")

    # age the live one out too (threshold 0 on a young claim: survives;
    # -1 ages everything), then the fold proceeds
    assert SE.sweep_stale_log_claims(spark, dec_path, max_age_s=3600) == []
    swept2 = SE.sweep_stale_log_claims(spark, dec_path, max_age_s=-1)
    assert [r["name"] for r in swept2] == ["liveepoch"]
    SE.compact_gate_decisions(spark, dec_path)


def test_concurrent_log_claims_vs_fold_stress(spark, tmp_path):
    """Live two-thread stress of the log-side claim primitives — one
    thread takes/releases epoch-style `log_user_claim`s in a tight
    loop (retrying on protocol errors), the other loops
    compact_gate_decisions (skipping on protocol errors): the only
    errors either side may ever see are the protocol's designed
    messages (the store-side stress caught a real marker-read TOCTOU
    this way), and the log ends with no marker and no claim files."""
    import threading
    import time as _t

    feed, run = _gate_runner(spark, tmp_path, src_name="stress_docs")
    feed((1, 0, "stress body one"), (2, 1, "stress body two"))
    run("dec_stress", "ckpt_stress")
    dec_path = str(tmp_path / "dec_stress")
    pre = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))

    PROTOCOL = ("under maintenance", "active gate-epoch claims", "_maintenance marker")
    unexpected: list[str] = []
    done = threading.Event()

    def claimer():
        try:
            for _ in range(40):
                while True:
                    try:
                        with SE.log_user_claim(spark, dec_path, "stress epoch"):
                            _t.sleep(0.005)
                        break
                    except RuntimeError as e:
                        if not any(p in str(e) for p in PROTOCOL):
                            unexpected.append(f"claim: {e!r}")
                            return
                        _t.sleep(0.005)
        except Exception as e:  # noqa: BLE001 — recorded, asserted on main thread
            unexpected.append(f"claim: {e!r}")
        finally:
            done.set()

    def folder():
        while not done.is_set():
            try:
                SE.compact_gate_decisions(spark, dec_path)
            except RuntimeError as e:
                if not any(p in str(e) for p in PROTOCOL):
                    unexpected.append(f"fold: {e!r}")
                    return
            except Exception as e:  # noqa: BLE001
                unexpected.append(f"fold: {e!r}")
                return
            _t.sleep(0.002)

    ta = threading.Thread(target=claimer)
    tb = threading.Thread(target=folder)
    ta.start(), tb.start()
    ta.join(timeout=240), tb.join(timeout=240)
    assert not ta.is_alive() and not tb.is_alive(), "stress threads hung"
    assert unexpected == [], unexpected
    # the fold won at some point (the log compacts exactly once; later
    # passes are no-ops) and the resolved rows are intact either way
    assert sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect())) == pre
    assert not os.path.exists(f"{dec_path}/_maintenance")
    claims = f"{dec_path}/_claims"
    if os.path.isdir(claims):
        assert [f for f in os.listdir(claims) if not f.startswith((".", "_"))] == []


def test_foreach_gate_fully_suppressed_epoch(spark, tmp_path):
    """An epoch consisting ONLY of re-deliveries (every id already in
    the decisions log) must run green end-to-end: the suppression
    leaves an empty fresh frame, the gate runs on it without error, the
    epoch commits (possibly empty), and the log's decisions are
    unchanged — no row loss, no double decisions, stream resumable
    afterwards."""
    feed, run = _gate_runner(spark, tmp_path, src_name="suppressed_docs")
    feed((1, 0, "sup one"), (2, 1, "sup two"))
    run("dec_sup", "ckpt_s")
    dec_path = str(tmp_path / "dec_sup")
    pre = sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect()))
    assert len(pre) == 2

    feed((1, 2, "sup one"), (2, 3, "sup two"))  # pure re-delivery epoch
    run("dec_sup", "ckpt_s")
    assert sorted(map(tuple, SE.read_gate_decisions(spark, dec_path).collect())) == pre

    feed((3, 4, "sup three"))  # stream still healthy afterwards
    run("dec_sup", "ckpt_s")
    rows = {r.id: r.status for r in SE.read_gate_decisions(spark, dec_path).collect()}
    assert rows == {1: "new", 2: "new", 3: "new"}
