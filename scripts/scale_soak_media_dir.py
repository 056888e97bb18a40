"""Directory-ingestion soak (r14): replicate tests/fixtures into a
temp corpus at 1x/10x/100x file counts and time read_media_dir +
media_dir_inventory end-to-end (listing -> binaryFile scan -> probe
mapInPandas -> noop write). The check is SCAN-LINEARITY: files/s must
stay flat as the corpus grows (the probe is header-bounded per file;
the listing and packing are Spark-native), and the oversize branch
must stay listing-cost-only at every scale.

Usage: python scripts/scale_soak_media_dir.py [scale...=[1, 10, 100]]
Prints one line per scale; non-zero exit if the largest scale's
files/s drops below half the smallest's (superlinear cost).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_olap_spark.session import get_spark  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "fixtures")


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.sources.media import media_dir_inventory

    src = [p for p in sorted(os.listdir(FIXTURES))
           if os.path.isfile(os.path.join(FIXTURES, p))]
    rates = []
    with tempfile.TemporaryDirectory() as root:
        for k in scales:
            corpus = os.path.join(root, f"x{k}")
            os.makedirs(corpus)
            for i in range(k):
                for name in src:
                    shutil.copy(os.path.join(FIXTURES, name),
                                os.path.join(corpus, f"{i:04d}_{name}"))
            n_files = k * len(src)
            inv = media_dir_inventory(spark, corpus)
            t0 = time.time()
            inv.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            # oversize-only pass: must not decode or read payloads
            t1 = time.time()
            n_over = media_dir_inventory(spark, corpus, max_bytes=1) \
                .where("status = 'oversize'").count()
            dt_over = time.time() - t1
            assert n_over == n_files, (n_over, n_files)
            rate = n_files / dt
            rates.append(rate)
            print(f"scale={k}x files={n_files} inventory={dt:.2f}s "
                  f"({rate:.0f} files/s) oversize-pass={dt_over:.2f}s",
                  flush=True)
    ok = rates[-1] >= rates[0] / 2
    print(f"MEDIA-DIR SOAK {'CLEAN' if ok else 'SUPERLINEAR'}: "
          f"rates={[f'{r:.0f}' for r in rates]}")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
