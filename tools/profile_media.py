"""Offline (no Spark) profiler for the media attach/stats kernels.

Runs each attach_* encode kernel and its decode/stats kernel over the real
sf0.1 documents as ONE pandas batch, timing the two phases separately and
optionally cProfiling the hottest. This is guide §1 profiling for the media
band: the Spark queries are row-local mapInPandas chains, so single-process
kernel CPU is exactly the distributed cost divided by cores.

Each family runs `PASSES` times; per phase the tool prints the median wall
time and the median CPU seconds of this process (`time.process_time`).
CPU time leaves out time spent waiting for a core, but not the slowdown a
co-running job causes through shared caches and cores: with a Spark job
running beside it on a 4-core host, three runs of the same code spread up
to 1.46x in one phase, in CPU seconds as in wall time, and 7% in the last
line's totals (the sums of the medians). Compare two builds on a quiet
host, alternating. `--profile NAME` runs one cProfiled pass of one family.

Usage: python tools/profile_media.py [sf_dir] [--profile NAME]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
import pyarrow.parquet as pq


def load_docs(sf_dir: str) -> pd.DataFrame:
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    return t.to_pandas()


PASSES = 3


def _timed(kernel, batch: pd.DataFrame):
    """(wall s, CPU s, output frame) of one kernel over one batch."""
    w0, c0 = time.perf_counter(), time.process_time()
    out = pd.concat(list(kernel(iter([batch]))), ignore_index=True)
    return time.perf_counter() - w0, time.process_time() - c0, out


def run_pair(name: str, attach, stats, docs: pd.DataFrame,
             passes: int = PASSES) -> tuple[float, float]:
    """Print the median wall and CPU seconds of the attach and stats
    phases over `passes` runs; returns (wall, CPU) summed over both."""
    attach_t, stats_t = [], []
    for _ in range(passes):
        wall, cpu, media = _timed(attach, docs)
        attach_t.append((wall, cpu))
        wall, cpu, out = _timed(stats, media)
        stats_t.append((wall, cpu))
    med = {phase: (statistics.median(w for w, _ in t),
                   statistics.median(c for _, c in t))
           for phase, t in (("attach", attach_t), ("stats", stats_t))}
    cols = "  ".join(f"{phase} wall={w:6.2f}s cpu={c:6.2f}s"
                     for phase, (w, c) in med.items())
    print(f"{name:16s} {cols}  rows_out={len(out)}")
    return tuple(map(sum, zip(*med.values())))


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
    print(f"{len(docs)} docs, avg text {docs['text'].str.len().mean():.0f}, "
          f"median of {PASSES} passes per phase")
    total_wall = total_cpu = 0.0
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
            run_pair(name, attach, stats, docs, passes=1)
            pr.disable()
            pstats.Stats(pr).sort_stats("cumulative").print_stats(35)
        else:
            wall, cpu = run_pair(name, attach, stats, docs)
            total_wall += wall
            total_cpu += cpu
    if not prof_name:
        print(f"{'total':16s} wall={total_wall:6.2f}s cpu={total_cpu:6.2f}s")


if __name__ == "__main__":
    main()
