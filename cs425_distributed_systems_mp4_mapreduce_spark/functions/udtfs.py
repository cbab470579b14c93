"""Python UDTFs (Spark 4): table functions for the user-function
surface — the modern complement to the maple/juice RDD layer for
one-row-in / many-rows-out transforms."""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="word: string, pos: int")
class SplitWords:
    """Explode a line into (word, position) rows — the maple phase of
    WordCount as a SQL-callable table function:

        spark.udtf.register("split_words", SplitWords)
        SELECT word, COUNT(*) FROM documents,
               LATERAL split_words(text) GROUP BY word
    """

    def eval(self, text: str):  # noqa: D102
        if text:
            for i, w in enumerate(text.split(" ")):
                if w:
                    yield w, i
