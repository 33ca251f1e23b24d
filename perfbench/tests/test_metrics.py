from docling_api_spark.functions.formats import FORMATS

from perfbench.metrics import PER_LAYER


def test_benchmark_json_lists_one_convert_metric_pair_per_format():
    # the traced run derives these names from FORMATS
    listed = {n for n in PER_LAYER if n.startswith(("convert.s.", "convert.docs."))}
    assert listed == {f"convert.{k}.{fmt}" for fmt in FORMATS for k in ("s", "docs")}
