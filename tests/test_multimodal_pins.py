"""Byte pins for the multimodal tier.

Every ``synth_*`` stage's payload bytes over doc_ids 0..63, and every
``multimodal_*`` query's oracle SQL and tags, are hashed here. The
oracled queries compare decoders against SQL that recomputes the
generating formulas, so a synthesizer that changes its bytes or an
oracle that drifts while both move together would slip past the oracle
gate; these pins catch either on its own.
"""

from __future__ import annotations

import hashlib

from energy_datalake_solution_spark.plans.registry import QUERIES, get_queries

SYNTH_SHA256 = {
    "synth_bmp_payload":
        "dddffe8e82676c497aec40b1a9ded009346d7e2cb08c7f0d0d21fd9ec750983d",
    "synth_container_payload":
        "5292b0637b37cabd39db6ed97c87b98c79405a7c9ae74798c695980fc1895afc",
    "synth_gif_payload":
        "42beba0e626ac45a2794f839b88f2812a77273570da7dd0b46fd639dd0feb685",
    "synth_jpeg_420_payload":
        "7ec6c15b94d7920c58b60c455da3df5effff94939d1ed806ece7318f3812b4f4",
    "synth_jpeg_422_payload":
        "a10871d36edab8d7159be0fb673d92ce37f9f74105cc28edfd360ccaa5634d42",
    "synth_jpeg_color_payload":
        "fa8f16c139a8be2b865cae902f900a0f5bb9dc94f6f48bd175bb7d0eaa8d82ff",
    "synth_jpeg_payload":
        "6d1d295464b65ceaeb57abb8033a9422675923d90da8de9aa7ff0cbedd297fe6",
    "synth_jpeg_progressive_payload":
        "661a01c5908bb3b4c5c2e36714ff556dd12a9b32a7300af0791d8dafb81f12d1",
    "synth_png_adam7_payload":
        "5190b2291206f0c92d4fe81dd8dae935c8495c65d8a3f4868660ccef201804af",
    "synth_png_payload":
        "fe3ed2cdba1f8dff45988e744f89cd151c93422035c72665ea250261038e7242",
    "synth_tiff_lzw_payload":
        "d5beb498d511ff210fb90958dfb9b8f5e72026992164f94b93e8cc248b3b1829",
    "synth_tiff_multistrip_lzw_payload":
        "cb047eca836347e9afb8b6b4d4d3fd64dc4484628f75473739a58ea4d7f1f4cc",
    "synth_tiff_payload":
        "210f85a7262eecdedc69db3e5030b2c6fafbe4f8244b4f0c19e236a79e57eca5",
    "synth_video_container_payload":
        "5450ade69dcd10654fea43452a94618b21ebc71d42e3a27b25ed4097a315b601",
    "synth_wav_adpcm_payload":
        "3491c1f523abed7df6699ae9d4b32d5522e44c622d58b92a362cd9ad466cc1df",
    "synth_wav_g711_payload":
        "1953074aff6f27f65de01d9779daac13ca6b8de582114d6ef79a9a65a7216633",
    "synth_wav_pcm_payload":
        "8e2ec6ef72b9e28cf5880fd57c2934c04acfb9666da271d5b76b0b382c72fa13",
}

ORACLE_SHA256 = {
    "multimodal_bmp_pixel_stats": (
        "3e446a3f442beff51685e2eb8f157c94ed9b83dede41ff464c789a8328726b89",
        ("multimodal", "image"),
    ),
    "multimodal_frame_counts": (
        "b16363de87f5773fcd83f137a7f9ddfed9d81d1242869d809031e152e9433964",
        ("multimodal",),
    ),
    "multimodal_gif_pixel_stats": (
        "9ecb965ad638dcc9568574af30375c0b4ba0ced91d7ee60693e4efd48def3cd7",
        ("multimodal", "image"),
    ),
    "multimodal_header_sniff": (
        "de59c51432e1e765a2046e3188cf569d8d821dff72ccedcb5294eb751191a349",
        ("multimodal",),
    ),
    "multimodal_jpeg_420_pixel_stats": (
        "2fc202777bbd8797f6b7cb983fe90d074ea9e16a143a72d4909b74aee039484e",
        ("multimodal", "image"),
    ),
    "multimodal_jpeg_422_pixel_stats": (
        "b7566dc39d1403fc2acc0c659ca91ec5c1c159f86245484b4ca1296ecd0d9eeb",
        ("multimodal", "image"),
    ),
    "multimodal_jpeg_color_pixel_stats": (
        "416055e42cc1b6c894a1072363dc6c880a0e8a306af9d1772c0c7d007114b33c",
        ("multimodal", "image"),
    ),
    "multimodal_jpeg_pixel_stats": (
        "0085994c62d549fd1a8c2c7bbf393ce12c3f5bc4be780018f3ad73af885294ca",
        ("multimodal", "image"),
    ),
    "multimodal_jpeg_progressive_pixel_stats": (
        "7abf9578552ef409505a28c6f694b5d78f5973bb12e9aac8ea48205ecd9478ad",
        ("multimodal", "image"),
    ),
    "multimodal_payload_stats": (
        "891570967cc2a6e39c59c6317dec3abb95a172a534ab982e5184ed7f439e6835",
        ("multimodal",),
    ),
    "multimodal_png_adam7_stats": (
        "f0a4bbaab982cc1e5ece0e00494c9fab7a890aed327053dc495467179e6d65d3",
        ("multimodal", "image", "png", "interlace"),
    ),
    "multimodal_png_pixel_stats": (
        "fecdf1f14337401c861c9787b51eab3a34527a16d6bea777a79cf5329845d497",
        ("multimodal", "image"),
    ),
    "multimodal_resize_stats": (
        "079b4b13680d3d204ddb3608b7a55a359cf6eb34017bd4fd173f54f08da3089c",
        ("multimodal",),
    ),
    "multimodal_tiff_lzw_stats": (
        "867a34b566e56a99a37c57b9d0fdb736ff5cb64bdd4ffec6dcfadb2f2a4f054b",
        ("multimodal", "image", "tiff", "lzw"),
    ),
    "multimodal_tiff_multistrip_stats": (
        "5d68db005e1c3350e27456dc9bfbaee2e9996459035df9cf978f514a2c1dd920",
        ("multimodal", "image", "tiff", "lzw"),
    ),
    "multimodal_tiff_pixel_stats": (
        "0791bd13dbb45766280aef14a02cede1b9c69f96c5d5ee6c3797da9f56c9db07",
        ("multimodal", "image", "tiff"),
    ),
    "multimodal_video_container_stats": (
        "86113b4d287b68a2cda34549e3a6cd0b79025f1d1f05aa6514dd3068273edac5",
        ("multimodal", "video"),
    ),
    "multimodal_wav_adpcm_stats": (
        "8827dfce3a5d8c78a5b344790849dbb78de9def9e7bacd973e0da0e081897950",
        ("multimodal", "audio", "adpcm"),
    ),
    "multimodal_wav_g711_stats": (
        "c62bae4f18f3c9875420a1d1fec9ccc7f5b1015fb42003e149cab1449a09b9ca",
        ("multimodal", "audio", "g711"),
    ),
    "multimodal_wav_pcm_stats": (
        "e08276956653b8df4c29c415e8625d4a901ce6698da453baba93055c88549429",
        ("multimodal", "audio"),
    ),
}


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _synth_digests(spark) -> dict[str, str]:
    from energy_datalake_solution_spark.operators import multimodal

    docs = spark.range(64).withColumnRenamed("id", "doc_id")
    out = {}
    for name in sorted(n for n in vars(multimodal) if n.startswith("synth_")):
        rows = sorted(getattr(multimodal, name)(docs).collect())
        assert [r.doc_id for r in rows] == list(range(64)), name
        h = hashlib.sha256()
        for r in rows:
            payload = bytes(r.payload)
            h.update(r.doc_id.to_bytes(8, "little"))
            h.update(len(payload).to_bytes(8, "little"))
            h.update(payload)
        out[name] = h.hexdigest()
    return out


def _oracle_digests() -> dict[str, tuple[str, tuple[str, ...]]]:
    get_queries()
    return {
        name: (_sha(spec.oracle.encode()), spec.tags)
        for name, spec in sorted(QUERIES.items())
        if name.startswith("multimodal_")
    }


def test_synth_payload_bytes_are_pinned(spark):
    assert _synth_digests(spark) == SYNTH_SHA256


def test_oracle_sql_and_tags_are_pinned():
    assert _oracle_digests() == ORACLE_SHA256
