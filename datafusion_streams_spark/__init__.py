"""datafusion_streams_spark — a PySpark-native analytics engine with the
capability surface of datafusion-contrib/datafusion-streams.

The reference (``/root/reference``) is a micro-batch Kafka scan source
(``src/kafka/execution.rs:31``) plugged into DataFusion's relational
surface. This engine re-expresses that Spark-first: Structured Streaming
supplies the micro-batch loop, the DataFrame/SQL API supplies every
downstream operator, and Catalyst/Tungsten supply the physical
execution. Beyond parity, it adds LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal binary columns) designed
for 100 TB scale.
"""

from datafusion_streams_spark.session import get_session
from datafusion_streams_spark.catalog import register_views, table
from datafusion_streams_spark.operators import REGISTRY

__version__ = "0.1.0"

__all__ = ["get_session", "table", "register_views", "REGISTRY", "__version__"]
