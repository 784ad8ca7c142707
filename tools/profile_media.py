"""Offline (no Spark) profiler for the media attach/stats kernels.

Runs each attach_* encode kernel and its decode/stats kernel over the real
sf0.1 documents as ONE pandas batch, timing the two phases separately and
optionally cProfiling the hottest. This is guide §1 profiling for the media
band: the Spark queries are row-local mapInPandas chains, so single-process
kernel CPU is exactly the distributed cost divided by cores.

Usage: python tools/profile_media.py [sf_dir] [--profile NAME]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
import pyarrow.parquet as pq


def load_docs(sf_dir: str) -> pd.DataFrame:
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    return t.to_pandas()


def run_pair(name: str, attach, stats, docs: pd.DataFrame,
             id_col: str = "doc_id") -> tuple[float, float, pd.DataFrame]:
    t0 = time.time()
    media_parts = list(attach(iter([docs])))
    t_attach = time.time() - t0
    media = pd.concat(media_parts, ignore_index=True)
    t0 = time.time()
    out_parts = list(stats(iter([media])))
    t_stats = time.time() - t0
    out = pd.concat(out_parts, ignore_index=True)
    print(f"{name:32s} attach={t_attach:6.2f}s stats={t_stats:6.2f}s "
          f"rows_out={len(out)}")
    return t_attach, t_stats, out


def kernels():
    """(name, attach_kernel, stats_kernel) triples mirroring the headline
    media queries; `FakeDF` captures the kernel that `_map_rows` builds."""
    from wde_spark.operators import multimodal as M

    class FakeDF:
        def __init__(self):
            self.kernel = None
        def select(self, *a, **k):
            return self
        def filter(self, *a, **k):
            return self
        def mapInPandas(self, kernel, schema=None):
            f = FakeDF()
            f.kernel = kernel
            return f

    def grab(op, *args, **kw):
        return op(FakeDF(), *args, **kw).kernel

    pairs = [
        ("jpeg_gray", grab(M.attach_jpegs), None),
        ("jpeg_color", grab(M.attach_jpegs_color), None),
        ("jpeg420_restart", grab(M.attach_jpegs_420), None),
        ("jpeg420_dri", grab(M.attach_jpegs_420_dri), None),
        ("palette_png", grab(M.attach_palette_images), None),
        ("gif", grab(M.attach_gifs), None),
        ("gif_anim", grab(M.attach_animated_gifs), None),
        ("qoi", grab(M.attach_qoi), None),
        ("bmp", grab(M.attach_bmps), None),
        ("tiff", grab(M.attach_tiffs), None),
        ("video", grab(M.attach_video), None),
        ("video_rle", grab(M.attach_video_rle), None),
        ("audio_mixed", grab(M.attach_audio_mixed), None),
        ("audio_adpcm", grab(M.attach_audio_adpcm), None),
        ("png_images", grab(M.attach_images, vary_filters=True), None),
    ]
    stats = {
        "jpeg_gray": grab(M.image_rgba_stats),
        "jpeg_color": grab(M.image_rgba_stats),
        "jpeg420_restart": grab(M.image_rgba_stats),
        "palette_png": grab(M.image_rgba_stats),
        "gif": grab(M.image_rgba_stats),
        "qoi": grab(M.image_rgba_stats),
        "bmp": grab(M.image_rgba_stats),
        "tiff": grab(M.image_rgba_stats),
        "gif_anim": grab(M.animation_frame_stats),
        "video": grab(M.video_frame_stats),
        "video_rle": grab(M.video_frame_stats),
        "audio_adpcm": grab(M.audio_sample_stats),
        "audio_mixed": grab(M.audio_energy_windows),
        "png_images": grab(M.resize_images),
    }
    return [(n, a, stats.get(n)) for n, a, _ in pairs]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    prof_name = None
    if "--profile" in args:
        i = args.index("--profile")
        prof_name = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    docs = load_docs(sf_dir)
    print(f"{len(docs)} docs, avg text {docs['text'].str.len().mean():.0f}")
    for name, attach, stats in kernels():
        if prof_name and name != prof_name:
            continue
        if stats is None:
            continue
        if prof_name:
            import cProfile
            import pstats
            pr = cProfile.Profile()
            pr.enable()
            run_pair(name, attach, stats, docs)
            pr.disable()
            pstats.Stats(pr).sort_stats("cumulative").print_stats(35)
        else:
            run_pair(name, attach, stats, docs)


if __name__ == "__main__":
    main()
