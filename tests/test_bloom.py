"""Textbook sizing of ``dedup.BloomFilter``, the filter the snapshot
manifests' per-file equality blooms are built with."""

from teste_carga_avro_vs_json_spark.operators import dedup


def test_params_textbook():
    m, k = dedup.BloomFilter.params(10_000, 0.01)
    # -n ln p / ln^2 2 ≈ 9.585 bits/item at 1% → ~95,851 bits, k ≈ 7
    assert 95_000 <= m <= 97_000 and k == 7
    m2, _ = dedup.BloomFilter.params(10_000, 0.001)
    assert m2 > m  # tighter fpp → bigger filter
    assert m % 8 == 0
