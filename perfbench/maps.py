"""The map UDF shared by the three benchmark views.

Lives in its own importable module because Spark's Python workers
unpickle the function by import path.
"""

import json


def map_tags(content, meta, emit):
    obj = json.loads(content)
    for tag in obj["tags"]:
        emit(tag, obj["n"])
