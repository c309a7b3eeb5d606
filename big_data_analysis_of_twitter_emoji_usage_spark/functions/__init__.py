from big_data_analysis_of_twitter_emoji_usage_spark.functions.emoji import (  # noqa: F401
    PORTABLE_EMOJI,
    extract_emojis,
    emoji_tokens,
)
from big_data_analysis_of_twitter_emoji_usage_spark.functions.text import (  # noqa: F401
    WORD_KEEP,
    tokenize_words,
    word_tokens,
)
