from tab2neo_spark.extract.html import (  # noqa: F401
    build_html,
    extract_text,
    extract_text_udf,
    with_extracted_text,
)
from tab2neo_spark.extract.mentions import (  # noqa: F401
    detect_mentions,
    detect_mentions_with_pos,
    gazetteer_pattern,
    match_gazetteer,
    tokenize_words,
)
