from incubyte_vaccination_data_pipeline_spark.sources.csv_ingest import (  # noqa: F401
    load_source_data,
    synonym_projection,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (  # noqa: F401
    read_table,
    read_tables,
    write_dead_letter,
    write_warehouse,
)
