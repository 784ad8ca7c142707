"""Encoder-output pins for the media fixtures.

The media oracles check decoded pixels and samples, so an encoder change
that alters the transport bytes but still decodes to the same values
passes them. This test pins the bytes: over 64 fixed texts (empty, NULL,
one byte, 5000 bytes, non-ASCII, and mixed-length word runs) every
`attach_*` payload family, plus `attach_images(vary_filters=True)`, must
hash to the md5 recorded from the encoders before the media kernels were
rebuilt on `_map_rows`. A codec speed-up must keep every digest.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wde_spark.operators import multimodal as MM

_WORDS = ["Paris", "Lettre", "autographe", "signée", "DIVERS",
          "DOCUMENTS", "le même.", "Жуковский", "東京", "ﬁn", "\t", "\n"]


def _texts() -> list:
    texts = ["", None, "a", "é", "x" * 5000, "日本語のテキスト",
             "LASTNAME (First.)", "\x00\x01\x7f"]
    for k in range(len(texts), 64):
        h = hashlib.sha256(b"%d" % k).digest()
        texts.append(" ".join(_WORDS[b % len(_WORDS)]
                              for b in h[: k % 32 + 1]))
    return texts


FAMILIES = {
    "images": MM.attach_images,
    "images_vary_filters":
        lambda d: MM.attach_images(d, vary_filters=True),
    "audio": MM.attach_audio,
    "palette_images": MM.attach_palette_images,
    "audio_adpcm": MM.attach_audio_adpcm,
    "bmps": MM.attach_bmps,
    "tiffs": MM.attach_tiffs,
    "jpegs": MM.attach_jpegs,
    "jpegs_color": MM.attach_jpegs_color,
    "jpegs_420": MM.attach_jpegs_420,
    "jpegs_420_dri": MM.attach_jpegs_420_dri,
    "qoi": MM.attach_qoi,
    "gifs": MM.attach_gifs,
    "animated_gifs": MM.attach_animated_gifs,
    "audio_mixed": MM.attach_audio_mixed,
    "audio_g711": MM.attach_audio_g711,
    "video": MM.attach_video,
    "video_rle": MM.attach_video_rle,
}

EXPECTED = {
    "images": "ac1218a75a9a34118ad6695590a661f0",
    "images_vary_filters": "db800e2c0867fabdac962cac26873c57",
    "audio": "948bc7b8f3ad69316f1c2d1ccbf369fd",
    "palette_images": "64b1e4561d48fb96e5feb5dc23be9d78",
    "audio_adpcm": "1699c7c6afa530344084d0f1a9b9fb0a",
    "bmps": "66f1935a39afa34749472fce18387cb3",
    "tiffs": "9660b1dbe291ff34be99c1a43e3ea347",
    "jpegs": "efd37ad381fff8348741b9f65cc01285",
    "jpegs_color": "783fe1af5156ee4e8024b4fcbcc1a1d5",
    "jpegs_420": "f7082ad3c1f9fb4c9f17d65c3d683a93",
    "jpegs_420_dri": "0105178c92ece1d69d78aeb3411a3079",
    "qoi": "50874ffc5f0e477e82555b236535d4f9",
    "gifs": "b5193d2d08f13db136b9730f9510cd0f",
    "animated_gifs": "b5bce0bbc9149c36cfc77c0dc9183977",
    "audio_mixed": "b3b6e020b32b28757fa741fb76db89d3",
    "audio_g711": "f4aa88f7069b30db9bb20319549f11a4",
    "video": "1af92dc978aac04a34ea3e6c98806d36",
    "video_rle": "338fdb82de4774ef8a7da9babc02481c",
}


def payload_digests(spark) -> dict:
    """md5 per family over its payloads in doc_id order, each prefixed
    by its 8-byte length."""
    docs = spark.createDataFrame(list(enumerate(_texts())),
                                 "doc_id long, text string")
    media: DataFrame = reduce(DataFrame.unionByName, [
        attach(docs).withColumn("family", F.lit(name))
        for name, attach in FAMILIES.items()])
    digests = {name: hashlib.md5() for name in FAMILIES}
    for r in media.orderBy("family", "media_id").collect():
        payload = bytes(r["payload"])
        digests[r["family"]].update(len(payload).to_bytes(8, "little"))
        digests[r["family"]].update(payload)
    return {name: h.hexdigest() for name, h in digests.items()}


def test_attach_payload_bytes_do_not_drift(spark):
    assert payload_digests(spark) == EXPECTED
