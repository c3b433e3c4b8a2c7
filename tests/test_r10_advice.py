"""Round-10 ADVICE-fix regression tests (ADVICE r9 items).

1. The set-similarity joins must NOT pair blank/whitespace-only documents:
   their token sets are empty, 0/0 Jaccard is undefined, and the class
   collapse would otherwise fuse them into one within-class 1.0 clique.
2. ``decode_bmp`` must average only the 3·width pixel bytes per row —
   a real-world BMP zero-fills its 4-byte row-alignment padding, and the
   pre-fix decoder biased mean_luma toward 0 whenever 3·width % 4 != 0
   (it only matched the oracle because the fixture encoder nonstandardly
   filled padding with the pixel value).
3. The scaling sweep checkpoint lives REPO-side, not /tmp — a session
   boundary must not orphan a half-finished sweep (r9 lost one that way).
"""

from __future__ import annotations

import pytest


def _blank_corpus(spark):
    rows = [
        (1, "alpha beta gamma delta", "g"),
        (2, "alpha beta gamma delta epsilon", "g"),
        (3, "", "g"),
        (4, "   ", "g"),
        (5, "\t \t", "g"),
        (6, "zeta eta theta iota kappa", "g"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "grp"])


@pytest.mark.parametrize("which", ["jaccard", "containment"])
def test_lsh_lever_ignores_blank_docs(spark, which):
    """The id dates from the deleted token-set LSH lever; the same two
    checks now run on the one (prefix) path."""
    from sparkmerge.ext.dedup import containment_pairs, ngram_jaccard_pairs

    df = _blank_corpus(spark)
    fn = ngram_jaccard_pairs if which == "jaccard" else containment_pairs
    rows = fn(df, "doc_id", "text", "grp", threshold=0.5).collect()
    blank_ids = {3, 4, 5}
    for r in rows:
        assert r["a_id"] not in blank_ids and r["b_id"] not in blank_ids, (
            f"blank docs paired: {r}"
        )
    # and the real near-dup pair is still found (1 ⊂ 2, J = 4/5)
    assert (1, 2) in {(r["a_id"], r["b_id"]) for r in rows}


def test_bmp_padding_zero_filled_and_excluded_from_luma():
    from sparkmerge.ext.multimodal import decode_bmp, encode_bmp

    # width 5 → 3*5 = 15 pixel bytes, stride 16: one pad byte per row
    payload = encode_bmp(5, 3, 200)
    w, h, luma = decode_bmp(payload)
    assert (w, h) == (5, 3)
    # padding must be zero-filled (the standard layout) ...
    offset = payload[10] | (payload[11] << 8)
    stride = 16
    for row in range(3):
        assert payload[offset + row * stride + 15] == 0, "pad byte not zero"
    # ... and the decoder must skip it: flat 200-valued pixels → exactly 200/255
    assert luma == 200 / 255.0


def test_bmp_zero_padded_foreign_image_unbiased():
    """A BMP produced by any standard encoder (zero padding) must decode
    to the unbiased pixel mean."""
    import struct

    from sparkmerge.ext.multimodal import decode_bmp

    width, height, val = 3, 2, 90  # 3*3 = 9 pixel bytes, stride 12 → 3 pad bytes
    stride = 12
    rows = (bytes([val]) * 9 + b"\x00\x00\x00") * height
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    _, _, luma = decode_bmp(header + dib + rows)
    assert luma == 90 / 255.0


def test_prune_respects_live_pid_lease(tmp_path):
    """A cache generation holding a lease from a LIVE pid survives pruning
    even when aged past the grace window (a >grace-window Spark scan);
    dead-pid leases fall through to the age rule (r9 verdict: the mtime
    lease only narrowed the race to scans shorter than the window)."""
    import os
    import time

    from sparkmerge.queries import prune_stale_siblings

    base = str(tmp_path)
    old = time.time() - 100000
    live = tmp_path / "aaaahash1111-oldcontent11"
    dead = tmp_path / "aaaahash1111-oldcontent22"
    for d in (live, dead):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    (live / f".lease.{os.getpid()}").write_text("")
    (dead / ".lease.999999999").write_text("")  # beyond pid_max → dead
    for d in (live, dead):
        os.utime(d, (old, old))
        os.utime(d / "part-0.parquet", (old, old))
    prune_stale_siblings(base, "aaaahash1111-newcontent33")
    assert live.exists(), "live-pid lease ignored — mid-scan files deleted"
    assert not dead.exists(), "dead-pid lease blocked the age-based prune"


def test_scaling_checkpoint_is_repo_side():
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import scaling_report

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert scaling_report.CHECKPOINT == os.path.join(repo, ".scaling_partial.json")
