"""Package tsaug_spark into dist/tsaug_spark.zip for spark-submit
--py-files distribution.

The zip is byte-identical for identical sources: entries are sorted and
carry a fixed timestamp and mode, so a stale committed zip shows up as a
diff (tests/test_job_cli.py compares it with a fresh build).

    python tools/make_pyfiles.py [OUT]     # OUT defaults to dist/tsaug_spark.zip
"""

from __future__ import annotations

import pathlib
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent


def build(out: pathlib.Path) -> None:
    out.parent.mkdir(parents=True, exist_ok=True)
    sources = sorted(
        py.relative_to(ROOT).as_posix()
        for py in (ROOT / "tsaug_spark").rglob("*.py")
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sources:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, (ROOT / name).read_bytes())


def main() -> None:
    out = pathlib.Path(
        sys.argv[1] if len(sys.argv) > 1 else ROOT / "dist" / "tsaug_spark.zip"
    )
    build(out)
    print(f"wrote {out} ({out.stat().st_size} bytes)")


if __name__ == "__main__":
    main()
